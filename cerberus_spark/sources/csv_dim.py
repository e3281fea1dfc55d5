"""File-based dimension-table ingest: IANA-style service/port CSVs.

The reference loads these as driver-side hash maps
(internal/databases/service.go:157-208 — skip header/blank lines, skip
port-range rows, parse uint16 port, uppercase names, split per
transport protocol).  Here the CSV becomes a small DataFrame dimension
meant for the broadcast side of an enrichment join — same semantics,
but declarative: ``spark.read.csv`` + filter/cast only, no per-row
Python.

One deliberate divergence: the reference's maps are last-write-wins in
file order; a distributed read has no stable file order, so duplicate
(port, proto) keys resolve deterministically to the lexicographically
smallest service name instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def load_service_ports(spark: SparkSession, path: str) -> DataFrame:
    """Load an IANA service-names CSV into a (port, proto, service,
    description) dimension.

    Mirrors parseIANACSV (service.go:157-208): header row skipped
    (``header=True``), rows with a port RANGE ("7000-7010") skipped,
    unparseable / out-of-uint16-range ports skipped (the cast yields
    NULL, then the 1..65535 filter drops it), names trimmed +
    uppercased, protocol normalized.  Unlike the reference we also drop
    empty service names (an empty map key is never a useful lookup
    result) and dedupe (port, proto) deterministically.
    """
    raw = spark.read.option("header", True).csv(path)
    cleaned = (
        raw.select(
            F.upper(F.trim(F.col("Service Name"))).alias("service"),
            F.trim(F.col("Port Number")).alias("port_s"),
            F.upper(F.trim(F.col("Transport Protocol"))).alias("proto"),
            F.trim(F.col("Description")).alias("description"),
        )
        .filter(
            F.col("service").isNotNull()
            & (F.col("service") != "")
            & F.col("port_s").isNotNull()
            & ~F.col("port_s").contains("-")
        )
        # try_cast: unparseable ports -> NULL -> dropped (ANSI mode
        # would raise on the cast, reference skips the row)
        .withColumn("port", F.col("port_s").try_cast("int"))
        .filter(F.col("port").between(1, 65535))
    )
    return cleaned.groupBy("port", "proto").agg(
        F.min("service").alias("service"),
        F.min_by("description", "service").alias("description"),
    )


def service_lookup(
    df: DataFrame,
    dim: DataFrame,
    port_col: str,
    proto: str = "TCP",
    default: str = "UNKNOWN",
) -> DataFrame:
    """Enrich ``df`` with a ``service`` column via broadcast left join
    against the CSV dimension (reference lookup-with-fallback,
    service.go:414-442: map get with 'Unknown' default)."""
    d = dim.filter(F.col("proto") == proto).select(
        F.col("port").alias(port_col), "service"
    )
    return df.join(F.broadcast(d), port_col, "left").withColumn(
        "service", F.coalesce(F.col("service"), F.lit(default))
    )
