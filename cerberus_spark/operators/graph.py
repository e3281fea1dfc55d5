"""Connected components over candidate-pair edges — the step that turns
near-duplicate PAIRS (MinHash/SimHash/Jaccard output) into duplicate
CLUSTERS with one canonical survivor each.

Iterative min-label propagation WITH pointer shortcutting: every node
starts labeled with itself; each round a node takes the min of its own
and its neighbors' labels, then jumps to its label's label
(path-halving, the classic pointer-doubling trick).  Plain neighbor
propagation alone moves the min ONE hop per round (rounds = component
diameter); the shortcut step composes the label mapping with itself, so
remaining label-chain lengths roughly halve each round and the fixpoint
arrives in ~log2(diameter) rounds — ``max_iters`` 20 covers diameters
to ~2^20 (tests prove a 128-edge path graph inside 12 rounds).  For
near-dup clusters (dense, diameter 1-2) either scheme is 2-3 rounds;
the shortcut is what makes chain-shaped accident graphs safe.

Scale shape per round: one join (labels ⋈ edges, both keyed on node id)
+ one min-aggregate — shuffle-bounded by |edges|.  The loop runs on the
DRIVER but only moves per-round CHANGE COUNTS (one long per action),
never data.  Every round the labels are checkpointed to truncate the
growing lineage/plan — the standard Spark idiom for iterative
algorithms (GraphX/GraphFrames do the same internally).  Two modes:

- default ``localCheckpoint()`` — executor-local blocks, zero setup;
  right for local mode and short-lived jobs, but a LOST EXECUTOR kills
  the truncated lineage mid-iteration on a real cluster;
- ``checkpoint_dir=...`` — reliable ``checkpoint()`` to durable storage
  (HDFS/S3); the loop survives executor loss, at the cost of one
  write+read of the |nodes|-sized label table per round.  This is the
  1000-executor setting.
"""

from __future__ import annotations

import threading
import uuid
from collections import Counter

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cerberus_spark.sources.tables import local_table

#: SparkContext.setCheckpointDir is context-GLOBAL: the (set dir ->
#: eager checkpoint) pair below must not interleave across threads, or
#: one call's checkpoint files land under (and are later reclaimed
#: with) another call's namespace.  The lock serializes checkpoint
#: MATERIALIZATIONS across concurrent connected_components calls in
#: reliable mode — each checkpoint is eager, so files are complete and
#: the directory tag is consistent before the lock releases.
_CKPT_DIR_LOCK = threading.Lock()


def _hadoop_rm(spark, path: str) -> None:
    """Recursive delete through the Hadoop FileSystem API — works for
    file:/, hdfs:/, s3a:/ alike (whatever backs the checkpoint dir)."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    fs.delete(p, True)


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iters: int = 20,
    checkpoint_dir: str | None = None,
    driver_threshold: int | None = 500_000,
) -> DataFrame:
    """(id, cluster_id) for every node appearing in ``edges``;
    cluster_id = smallest node id in the component (deterministic).

    Raises if the fixpoint is not reached within ``max_iters`` rounds —
    silent truncation would mislabel components.

    ``checkpoint_dir``: when set, per-round lineage truncation uses
    reliable ``checkpoint()`` (survives executor loss — the
    cluster-scale mode) instead of ``localCheckpoint()``.  Every
    INVOCATION gets its own ``cc-<12hex>/`` namespace under
    ``checkpoint_dir`` (so repeated or concurrent calls can share one
    directory — the reclaim below can never delete the files backing a
    PREVIOUS call's still-live result), and each checkpoint lands in
    its own subdirectory of that namespace; superseded rounds are
    DELETED as soon as the next round is materialized, so durable
    storage holds at most two |nodes|-sized label tables per live call
    instead of one per round.  The files of
    the FINAL round back the returned DataFrame and are left for the
    caller to drop with the directory.  Side effect: this calls
    ``SparkContext.setCheckpointDir`` (global, context-wide state) and
    leaves it pointing at the last round's subdirectory.

    ``driver_threshold``: adaptive small-graph fast path (the AQE
    philosophy — pick the physical strategy from the runtime size).
    Candidate-pair graphs are typically ORDERS smaller than the corpus
    (capped LSH buckets emit few edges), while each distributed
    label-propagation round costs a fixed multi-job overhead that
    dwarfs the work on a small graph.  The edges are read with ONE
    bounded collect (``limit(threshold + 1)``, no count first); when
    at most ``threshold`` come back, a driver-side union-find labels
    them in milliseconds and the result ships back as an Arrow
    ``LocalTableScan`` — the same labels (min id per component) and
    schema.  On the 493-edge candidate graph of the 4k-doc benchmark
    corpus (local[4], candidates already materialized), the call is
    ONE Spark job, the collect, where checkpointing, counting and
    collecting the edges took 4; ``dedup_clusters`` then reads its
    local table in 1 job where its csize groupBy and join took 3.
    Graphs over the threshold run the distributed
    iteration over the same checkpointed edges, so the upstream
    pipeline still runs once; ``None`` disables the fast path.  Memory
    honesty: the fast path collects up to threshold + 1 edge Rows — as
    PYTHON OBJECTS that is roughly a few hundred bytes per edge, so the
    500k default costs the driver a few hundred MB peak, not tens;
    raise it only with driver heap to match.
    """
    comps = _components(edges, src, dst, max_iters, checkpoint_dir, driver_threshold)
    if isinstance(comps, DataFrame):
        return comps.select("id", F.col("lbl").alias("cluster_id"))
    return local_table(edges.sparkSession, list(comps.items()), _label_schema(edges, src, dst))


def _components(
    edges: DataFrame,
    src: str,
    dst: str,
    max_iters: int,
    checkpoint_dir: str | None,
    driver_threshold: int | None,
) -> dict | DataFrame:
    """Component labels (min id per component) of ``edges``: a
    ``{node: label}`` dict when the edge list fits ``driver_threshold``,
    else the distributed iteration's (id, lbl) DataFrame.  See
    :func:`connected_components` for both regimes."""
    spark = edges.sparkSession
    label_dirs: list[str] = []
    # per-invocation namespace: the reclaim logic below deletes
    # directories, so two calls sharing one checkpoint_dir must never
    # share tag paths (a second call would otherwise delete the final
    # checkpoint still backing the first call's returned DataFrame)
    ns = (
        None
        if checkpoint_dir is None
        else f"{checkpoint_dir.rstrip('/')}/cc-{uuid.uuid4().hex[:12]}"
    )

    def _ckpt(df: DataFrame, tag: str) -> tuple[DataFrame, str | None]:
        """The ONLY place the checkpoint path scheme lives: returns the
        checkpointed frame plus the directory that backs it (None in
        localCheckpoint mode) for the caller's reclaim bookkeeping."""
        if ns is None:
            return df.localCheckpoint(), None
        sub = f"{ns}/{tag}"
        with _CKPT_DIR_LOCK:  # see lock comment: global-dir set + eager
            # checkpoint must be atomic w.r.t. concurrent invocations
            spark.sparkContext.setCheckpointDir(sub)
            out = df.checkpoint()  # eager: files complete on return
        return out, sub

    def _drop_stale_labels() -> None:
        # keep only the newest label checkpoint (the current `labels`);
        # everything older is lineage no plan references anymore
        while len(label_dirs) > 1:
            _hadoop_rm(spark, label_dirs.pop(0))

    # the (possibly very expensive) upstream candidate-pair pipeline
    # must run exactly once whichever regime wins: the edges are
    # checkpointed before anything reads them.  Locally the checkpoint
    # is lazy — the bounded collect below fills its blocks, and the
    # iteration reads the same blocks if the graph is too big
    pairs = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    if ns is None:
        pairs, edges_dir = pairs.localCheckpoint(eager=False), None
    else:
        pairs, edges_dir = _ckpt(pairs, "edges")
    if driver_threshold is not None:
        rows = pairs.limit(driver_threshold + 1).collect()
        if len(rows) <= driver_threshold:
            if ns is not None:
                _hadoop_rm(spark, ns)  # result is driver-local: drop the
                # whole per-call namespace, not just the edges copy
            return _union_find(rows)
        del rows
    sym = pairs.union(pairs.select(F.col("b").alias("a"), F.col("a").alias("b")))
    labels, d = _ckpt(
        sym.select(F.col("a").alias("id")).distinct().withColumn("lbl", F.col("id")),
        "labels_init",
    )
    if d is not None:
        label_dirs.append(d)
    for i in range(max_iters):
        nb = sym.join(
            labels.select(F.col("id").alias("b"), F.col("lbl")), "b"
        ).select(F.col("a").alias("id"), "lbl")
        stepped = (
            labels.select("id", "lbl")
            .union(nb)
            .groupBy("id")
            .agg(F.min("lbl").alias("lbl"))
        )
        # pointer shortcutting: follow lbl -> lbl(lbl) so label chains
        # halve per round (one extra |nodes|-sized join, tiny next to
        # the |edges| join above)
        new_labels = (
            stepped.join(
                labels.select(F.col("id").alias("lbl"), F.col("lbl").alias("lbl2")),
                "lbl",
                "left",
            )
            .select("id", F.least("lbl", "lbl2").alias("lbl"))
        )
        new_labels, d = _ckpt(new_labels, f"labels_r{i}")
        if d is not None:
            label_dirs.append(d)
        changed = (
            new_labels.join(
                labels.select("id", F.col("lbl").alias("old")), "id"
            )
            .filter(F.col("lbl") != F.col("old"))
            .count()
        )
        labels = new_labels
        # the `changed` count was the last reader of the previous
        # round's checkpoint — reclaim it now
        _drop_stale_labels()
        if changed == 0:
            if edges_dir is not None:
                _hadoop_rm(spark, edges_dir)  # labels stand alone now
            return labels
    raise RuntimeError(
        f"connected_components did not converge in {max_iters} iterations"
    )


def _union_find(edge_rows: list) -> dict:
    """{node: smallest id in its component} over collected (a, b)
    edge rows — the exact fixpoint the distributed iteration reaches."""
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for a, b in edge_rows:
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by MIN so the root is always the smallest id seen
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    # full path compression in place (parent values only ever move
    # closer to the root)
    for x in parent:
        parent[x] = find(x)
    return parent


def _label_schema(edges: DataFrame, src: str, dst: str) -> T.StructType:
    """(id, cluster_id) as the distributed iteration types them: ``id``
    as nullable as either endpoint column, ``cluster_id`` (a ``min``)
    nullable — so both regimes return the same schema."""
    id_t = edges.schema[src].dataType
    id_nullable = edges.schema[src].nullable or edges.schema[dst].nullable
    return T.StructType(
        [T.StructField("id", id_t, id_nullable), T.StructField("cluster_id", id_t, True)]
    )


def dedup_clusters(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    checkpoint_dir: str | None = None,
    driver_threshold: int | None = 500_000,
) -> DataFrame:
    """(id, cluster_id, csize, keep) per clustered doc: components over
    the candidate pairs, cluster size, and the canonical-survivor flag
    (smallest id in the cluster — the row a dedup pass would keep).
    In the driver regime of :func:`connected_components` the one
    union-find also sizes the clusters: a local table, no groupBy."""
    comps = _components(edges, src, dst, 20, checkpoint_dir, driver_threshold)
    if isinstance(comps, DataFrame):
        cc = comps.select("id", F.col("lbl").alias("cluster_id"))
        sizes = cc.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("csize"))
        return cc.join(sizes, "cluster_id").select(
            "id",
            "cluster_id",
            "csize",
            (F.col("id") == F.col("cluster_id")).alias("keep"),
        )
    sizes = Counter(comps.values())
    rows = [(i, c, sizes[c], i == c) for i, c in comps.items()]
    # csize is a count (NOT NULL), keep compares with a nullable label
    schema = _label_schema(edges, src, dst).add("csize", T.LongType(), False).add(
        "keep", T.BooleanType(), True
    )
    return local_table(edges.sparkSession, rows, schema)


def cluster_representatives(
    clusters: DataFrame,
    attrs: DataFrame,
    id_col: str,
    quality_col: str,
) -> DataFrame:
    """ONE canonical survivor per duplicate cluster, by an EXPLICIT
    quality policy instead of ``dedup_clusters``' min-id ``keep`` flag.

    ``clusters`` is (id, cluster_id) — the connected-components output;
    ``attrs`` carries ``id_col`` plus ``quality_col``, the keep-policy
    column (e.g. ``n_chars`` for the keep-longest policy near-dedup
    passes conventionally use: among near-identical docs the longest
    is the least-truncated).  Representative = max quality, ties broken
    by min id — a TOTAL order, so both engines agree.  Quality must be
    NUMERIC (integer-valued or pre-rounded; see CLAUDE.md determinism
    rules) — it is negated for the min_by struct order; ids keep their
    native comparison, so string doc ids work.

    Output: (cluster_id, rep_id, csize, rep_quality).

    Scale shape: one equi-join (clusters ⋈ attrs on id, both sides big
    → shuffle hash join bounded by |clustered docs|, a small fraction
    of the corpus) then ONE partial-aggregable groupBy(cluster_id) —
    max_by/max/count all combine map-side, so the shuffle carries one
    row per (partition, cluster), not per doc.  No window/sort pass.
    """
    q = F.col("q")
    joined = clusters.join(
        attrs.select(F.col(id_col).alias("id"), F.col(quality_col).alias("q")),
        "id",
    )
    # struct order (q IS NULL, -quality, id): min -> non-null first
    # (a NULL quality would otherwise sort BEFORE every real value in
    # Spark's struct comparison and always win), then highest quality,
    # then smallest id; only the (numeric) quality is negated, the id
    # compares natively so non-numeric / negative ids stay correct.
    # rep_quality = max(q) is the winner's quality by construction
    # (the rep has the cluster's max quality; all-NULL clusters get
    # NULL both places).
    sort_key = F.struct(
        q.isNull().cast("int"), (-F.coalesce(q, F.lit(0))), F.col("id")
    )
    return joined.groupBy("cluster_id").agg(
        F.min_by("id", sort_key).alias("rep_id"),
        F.count(F.lit(1)).alias("csize"),
        F.max(q).alias("rep_quality"),
    )
