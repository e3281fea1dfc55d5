"""File-based dimension ingest: IANA-style service CSV (reference
semantics: internal/databases/service.go:157-208)."""

from __future__ import annotations

import os

from cerberus_spark.sources.csv_dim import load_service_ports, service_lookup

FIX = os.path.join(os.path.dirname(__file__), "fixtures")


def test_service_csv_parse_rules(spark):
    dim = load_service_ports(spark, f"{FIX}/service_ports.csv")
    rows = {(r.port, r.proto): r.service for r in dim.collect()}
    # normal rows, uppercased, per-proto
    assert rows[(22, "TCP")] == "SSH" and rows[(22, "UDP")] == "SSH"
    assert rows[(80, "TCP")] == "HTTP" and rows[(443, "TCP")] == "HTTPS"
    assert rows[(1025, "TCP")] == "BLACKJACK"
    # duplicate (port, proto) resolves deterministically to min(service)
    assert rows[(60, "TCP")] == "EXP1"
    # skipped: range row, unparseable port, port 0, >65535, empty name
    assert not any(p in (0, 7000, 7010, 70000) for p, _ in rows)
    assert (24, "TCP") not in rows
    assert len(rows) == 10


def test_service_lookup_with_default(spark):
    dim = load_service_ports(spark, f"{FIX}/service_ports.csv")
    df = spark.createDataFrame([(22,), (80,), (9999,)], "port int")
    got = {r.port: r.service for r in service_lookup(df, dim, "port").collect()}
    assert got == {22: "SSH", 80: "HTTP", 9999: "UNKNOWN"}


def test_service_lookup_broadcasts(spark):
    dim = load_service_ports(spark, f"{FIX}/service_ports.csv")
    df = spark.createDataFrame([(22,)], "port int")
    plan = service_lookup(df, dim, "port")._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan
