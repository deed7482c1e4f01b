"""Trained IVF index: distributed Lloyd's k-means + nprobe cell search.

Replaces the seeded stand-in codebook of the ``ann_ivf_cosine`` gate with
centroids trained on the corpus itself (the gate keeps its fixed codebook so
its DuckDB oracle — which inlines centroid literals — stays static; this
module is the production path and the rows-only ``ann_ivf_trained`` gate).

Scale design (the part that must survive 100 TB):
- one Lloyd iteration = one map-only assignment pass (centroid literals are
  inlined into a codegen'd argmin expression — no join, no UDF) plus one
  combine-enabled aggregation keyed on (cell, dim position): the shuffle
  carries at most k x dim x partitions partial rows;
- the driver only ever holds the codebook itself (k x dim floats), never
  data rows — collect volume is independent of corpus size;
- init is ONE distributed pass (k-means||-shaped): a deterministic
  content-hash top-m sample (m = max(8k, 64), executed as distributed
  top-m) collected to the driver, then greedy k-center on the sample in
  numpy — O(m·k·dim) driver work, collect volume bounded by k and
  independent of corpus size. No per-seed full scans.

Reference parity: the reference engine has no ANN/IVF operator — this module
is part of the brief-mandated LLM-data-pipeline surface (similarity search
scale path), cf. SURVEY.md §2 extensions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _argmin_dist_expr(vec: str, cents: list[list[float]], dim: int) -> str:
    """1-based index of the nearest centroid (squared Euclidean, explicit
    ``+``-chain — stays inside whole-stage codegen; HOF lambdas would not).
    First minimum wins, so assignment is deterministic."""
    dists = []
    for c in cents:
        terms = " + ".join(
            f"(element_at({vec}, {i + 1}) - ({c[i]!r})) * "
            f"(element_at({vec}, {i + 1}) - ({c[i]!r}))"
            for i in range(dim)
        )
        dists.append(f"({terms})")
    arr = f"array({', '.join(dists)})"
    return f"CAST(array_position({arr}, array_min({arr})) AS INT)"


def _probe_cells_expr(vec: str, cents: list[list[float]], dim: int, nprobe: int) -> str:
    """Indexes of the nprobe nearest centroids (ascending distance, index
    tiebreak) as an array — the query-side fan-out of IVF search."""
    dists = []
    for c in cents:
        terms = " + ".join(
            f"(element_at({vec}, {i + 1}) - ({c[i]!r})) * "
            f"(element_at({vec}, {i + 1}) - ({c[i]!r}))"
            for i in range(dim)
        )
        dists.append(f"({terms})")
    arr = f"array({', '.join(dists)})"
    return (
        f"slice(transform(array_sort(zip_with({arr}, "
        f"sequence(1, {len(cents)}), (s, i) -> struct(s AS d, i AS i))), "
        f"x -> x.i), 1, {nprobe})"
    )


def kmeans_train(
    vectors: DataFrame,
    vec_col: str,
    dim: int,
    k: int,
    iters: int = 5,
    id_col: str = "vec_id",
    max_train_rows: int | None = None,
) -> list[list[float]]:
    """Lloyd's k-means over the first ``dim`` components of ``vec_col``.

    Returns the trained codebook as plain Python floats (k x dim — the only
    driver-side state). Empty cells keep their previous centroid, so the
    codebook size is stable across iterations.

    Training input is CAPPED at ``max_train_rows`` (default ``256*k``, the
    standard IVF training budget — faiss trains on the same order): one
    content-hash top-N pass bounds it, then the k-center init AND the
    Lloyd iterations run driver-side in numpy over that collected
    codebook-sized sample — zero Spark jobs per round. At 100 TB this is
    the difference between `iters` extra full-corpus scans and none —
    the corpus is assigned to the trained cells exactly once, in
    ``ivf_search``. Codebook quality is
    statistically equivalent (centroids are means; a 256/cell sample
    estimates them within ~6% of a cell stddev) — the recall property
    test pins it.
    """
    v = vectors.select(
        F.col(id_col).alias("_id"),
        F.expr(f"slice(transform({vec_col}, x -> CAST(x AS DOUBLE)), 1, {dim})").alias(
            "_v"
        ),
    ).filter(F.expr(f"size(_v) = {dim}"))

    # Deterministic sampled k-center init (one pass — the k-means|| shape,
    # Bahmani et al. 2012): a pure farthest-point init needs k distributed
    # full scans (a scale-killer on a TB corpus), so instead take a bounded
    # content-hash sample of m = max(8k, 64) rows in ONE distributed top-m
    # pass, then run greedy k-center (farthest-point, first seed = smallest
    # hash) driver-side on the sample. The hash sample is uniform-ish, so
    # every cluster holding >= n/m of the data lands candidates in it and
    # the k-center finish still seeds each well-separated cluster (a
    # hash-ONLY init routinely drops one: two seeds in one dense cluster,
    # Lloyd never recovers). Collect volume is m x dim floats — bounded by
    # k, independent of corpus size.
    m = max(8 * k, 64)
    cap = max(max_train_rows if max_train_rows is not None else 256 * k, m)
    # the ONE full-corpus pass: deterministic content-hash top-`cap` sample.
    # The collect is cap x dim doubles — bounded by k, independent of corpus
    # size (for k=16/dim=16 that's ~0.5 MB) — so BOTH the k-center init and
    # the Lloyd rounds run driver-side in numpy: zero further Spark jobs.
    # (An earlier revision cached the sample as a DataFrame and ran each
    # Lloyd round as a distributed aggregate — correct, but it paid
    # `iters` job/shuffle round-trips to average a driver-sized sample.
    # The distributed passes that actually touch the corpus remain the
    # sample top-cap above and the final cell assignment in ivf_search.)
    train_rows = (
        v.withColumn(
            "_h", F.expr("conv(substring(md5(concat('ivf', _id)), 1, 14), 16, 10)")
        )
        .orderBy("_h", "_id")
        .limit(cap)
        .select("_v")
        .collect()
    )
    if not train_rows:
        raise ValueError("kmeans_train: empty input")
    if len(train_rows) < k:
        raise ValueError(f"kmeans_train: need >= {k} vectors")
    import numpy as np

    all_pts = np.array([r["_v"] for r in train_rows], dtype=np.float64)  # (cap, dim)
    pts = all_pts[:m]  # init sample: the m smallest hashes, as before
    cents_np = [pts[0]]
    d2 = ((pts - pts[0]) ** 2).sum(axis=1)
    while len(cents_np) < k:
        nxt = int(d2.argmax())  # farthest from all chosen seeds
        cents_np.append(pts[nxt])
        d2 = np.minimum(d2, ((pts - pts[nxt]) ** 2).sum(axis=1))
    cents = np.array(cents_np)  # (k, dim)

    pts_sq = (all_pts**2).sum(axis=1, keepdims=True)  # (cap, 1), reused
    for _ in range(iters):
        # (cap, k) squared distances via ||a||^2 + ||c||^2 - 2*a@c.T — a
        # matmul, NOT a broadcast (cap, k, dim) tensor, which at the
        # general-machinery end (k=256, dim=128, cap=256k) would be a
        # ~17 GB driver allocation; per-point argmin -> per-cell means;
        # empty cells keep their previous centroid (stable codebook size)
        d2 = pts_sq + (cents**2).sum(axis=1)[None, :] - 2.0 * (all_pts @ cents.T)
        cell = d2.argmin(axis=1)
        new = cents.copy()
        for ci in range(k):
            mask = cell == ci
            if mask.any():
                new[ci] = all_pts[mask].mean(axis=0)
        shift = float(((cents - new) ** 2).sum(axis=1).max())
        cents = new
        if shift < 1e-12:  # converged: further rounds are no-ops
            break
    return [[float(x) for x in c] for c in cents]


def ivf_search(
    vectors: DataFrame,
    cents: list[list[float]],
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    full_dim: int,
    cell_dim: int,
    n_queries: int,
    nprobe: int = 2,
    topk: int = 3,
) -> DataFrame:
    """IVF top-k cosine search: corpus rows live in their nearest-centroid
    cell (the shuffle key), each query probes its ``nprobe`` nearest cells,
    exact cosine ranks candidates inside probed cells only — per-query work
    is ~``nprobe/k`` of the corpus instead of all of it."""
    from engine_spark.datapipe import fragments as FR
    from engine_spark.datapipe.fragments import Dialect

    SP = Dialect("spark")
    e = vectors.select(
        F.col(id_col).alias("vec_id"),
        F.expr(f"transform({vec_col}, x -> CAST(x AS DOUBLE))").alias("vd"),
        F.expr(
            FR.norm_chain(SP, f"transform({vec_col}, x -> CAST(x AS DOUBLE))", full_dim)
        ).alias("nrm"),
    )
    cells = e.withColumn("cell", F.expr(_argmin_dist_expr("vd", cents, cell_dim)))
    q = (
        e.filter(F.col("vec_id") < n_queries)
        .withColumn(
            "probe", F.explode(F.expr(_probe_cells_expr("vd", cents, cell_dim, nprobe)))
        )
        .select(
            F.col("vec_id").alias("q_id"),
            F.col("vd").alias("qv"),
            F.col("nrm").alias("qn"),
            "probe",
        )
    )
    from pyspark.sql import Window

    scored = (
        cells.join(
            F.broadcast(q),
            (F.col("cell") == F.col("probe")) & (F.col("vec_id") != F.col("q_id")),
        )
        .withColumn(
            "cos_sim",
            F.expr(f"{FR.dot_chain(SP, 'qv', 'vd', full_dim)} / (qn * nrm)"),
        )
        .select("q_id", F.col("vec_id").alias("cand_id"), "cos_sim")
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos_sim").desc(), F.col("cand_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= topk)
        .select("q_id", "cand_id", "cos_sim", "rnk")
    )


def ivf_index_build(
    spark,
    vectors: DataFrame,
    path: str,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    full_dim: int,
    cell_dim: int,
    k: int,
    iters: int = 3,
    max_train_rows: int | None = None,
) -> list[list[float]]:
    """Train centroids and PERSIST the index at ``path``: the vectors (with
    precomputed norms) as parquet PARTITIONED BY cell, plus the codebook as
    a JSON sidecar. Returns the trained codebook.

    This is the 100 TB shape the per-query-retrain gate deliberately
    skips: training and cell assignment each touch the corpus once at
    BUILD time; a search then reads only its probed cells' files (static
    partition pruning — see ``ivf_index_search``), ~nprobe/k of the data,
    and no query ever pays the assignment scan again. ``path`` may be any
    Hadoop-FS URI (file://, hdfs://, s3a://) — both the parquet and the
    sidecar go through the same filesystem the state stores use.
    """
    import json

    from engine_spark.datapipe import fragments as FR
    from engine_spark.datapipe.fragments import Dialect
    from engine_spark.fsio import HadoopFS

    cents = kmeans_train(
        vectors, vec_col, dim=cell_dim, k=k, iters=iters,
        id_col=id_col, max_train_rows=max_train_rows,
    )
    fs = HadoopFS(spark, path)
    # Retrain is a REBUILD (ivf_index_add_batch's contract): ingest epochs
    # assigned under the OLD codebook must never be unioned with the new
    # build — retire them BEFORE publishing, so the worst crash window
    # leaves the old build minus its epochs (consistent, merely smaller)
    # instead of a mixed-codebook index with duplicate ids (ADVICE r10).
    fs.delete(f"{path}/epochs")
    fs.delete(f"{path}/_staging")  # dead uncommitted copies from old ingests
    SP = Dialect("spark")
    e = vectors.select(
        F.col(id_col).alias("vec_id"),
        F.expr(f"transform({vec_col}, x -> CAST(x AS DOUBLE))").alias("vd"),
        F.expr(
            FR.norm_chain(SP, f"transform({vec_col}, x -> CAST(x AS DOUBLE))", full_dim)
        ).alias("nrm"),
    ).withColumn("cell", F.expr(_argmin_dist_expr("vd", cents, cell_dim)))
    e.write.partitionBy("cell").mode("overwrite").parquet(f"{path}/vectors")
    meta = {"cents": cents, "full_dim": full_dim, "cell_dim": cell_dim, "k": k}
    fs.write_bytes(f"{path}/codebook.json", json.dumps(meta).encode())
    return cents


def ivf_index_search(
    spark,
    path: str,
    *,
    n_queries: int,
    nprobe: int = 2,
    topk: int = 3,
) -> DataFrame:
    """Top-k cosine search against a PERSISTED index (``ivf_index_build``).

    The probed cells are computed driver-side from the sidecar codebook and
    applied as a LITERAL ``cell IN (...)`` filter, so parquet partition
    pruning guarantees the scan touches only the probed cells' files —
    ~nprobe/k of the index regardless of corpus size (asserted on the
    executed plan in tests). Queries are the index's own first
    ``n_queries`` vectors, matching the ``ann_ivf_trained`` gate contract
    — locating them costs ONE unpruned lookup pass over the index
    (materialized once via localCheckpoint so the probe-collect and the
    scoring join don't each pay it); a caller holding the query vectors
    themselves skips that lookup entirely by scoring against
    ``_ivf_index_vectors`` directly.
    """
    import json

    from engine_spark.datapipe import fragments as FR
    from engine_spark.datapipe.fragments import Dialect
    from engine_spark.fsio import HadoopFS
    from pyspark.sql import Window

    SP = Dialect("spark")
    fs = HadoopFS(spark, path)
    meta = json.loads(fs.read_bytes(f"{path}/codebook.json").decode())
    cents = meta["cents"]
    full_dim, cell_dim = meta["full_dim"], meta["cell_dim"]

    vec = _ivf_index_vectors(spark, path)  # base build + ingest epochs
    q = (
        vec.filter(F.col("vec_id") < n_queries)
        .withColumn(
            "probe", F.explode(F.expr(_probe_cells_expr("vd", cents, cell_dim, nprobe)))
        )
        .select(
            F.col("vec_id").alias("q_id"),
            F.col("vd").alias("qv"),
            F.col("nrm").alias("qn"),
            "probe",
        )
        # query rows are codebook-sized; materialize once so the lookup
        # scan isn't paid again when the broadcast join executes
        .localCheckpoint(eager=True)
    )
    # the probed-cell set is dimension-sized (<= min(k, n_queries*nprobe)):
    # collecting it makes the cell filter a LITERAL, which is what lets the
    # parquet source prune partitions statically
    probed = sorted({r["probe"] for r in q.select("probe").distinct().collect()})
    cand = vec.filter(F.col("cell").isin(probed))
    scored = (
        cand.join(
            F.broadcast(q),
            (F.col("cell") == F.col("probe")) & (F.col("vec_id") != F.col("q_id")),
        )
        .withColumn(
            "cos_sim",
            F.expr(f"{FR.dot_chain(SP, 'qv', 'vd', full_dim)} / (qn * nrm)"),
        )
        .select("q_id", F.col("vec_id").alias("cand_id"), "cos_sim")
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos_sim").desc(), F.col("cand_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= topk)
        .select("q_id", "cand_id", "cos_sim", "rnk")
    )


def ivf_index_add_batch(
    spark,
    vectors: DataFrame,
    path: str,
    epoch_id: int,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> None:
    """Append a micro-batch of NEW vectors to a persisted IVF index
    exactly once — the live-ingest face of ``ivf_index_build``.

    The batch assigns to the EXISTING codebook (read from the sidecar —
    centroids stay frozen, the standard IVF ingest contract: retrain is a
    rebuild) and lands as one cell-partitioned ``epoch-N`` directory under
    ``<path>/epochs`` via stage + atomic rename, so a crash-replayed
    ``foreachBatch`` epoch is a no-op. ``ivf_index_search`` reads the base
    build plus every committed epoch with the same literal-IN partition
    pruning. Contract: vec_ids are append-only unique (re-ingesting an id
    would duplicate its rows, like any append-only store).
    """
    import json

    from engine_spark.datapipe import fragments as FR
    from engine_spark.datapipe.fragments import Dialect
    from engine_spark.fsio import EpochLog, HadoopFS

    SP = Dialect("spark")
    fs = HadoopFS(spark, path)
    log = EpochLog(fs, f"{path}/epochs")
    final = log.path(epoch_id)
    if log.committed(epoch_id):
        # crash replay of a committed epoch — including one whose dir a
        # later compaction already merged away (the sidecar's merged-id
        # set proves it); re-ingesting would duplicate its vectors
        return
    meta = json.loads(fs.read_bytes(f"{path}/codebook.json").decode())
    cents, full_dim, cell_dim = meta["cents"], meta["full_dim"], meta["cell_dim"]
    e = vectors.select(
        F.col(id_col).alias("vec_id"),
        F.expr(f"transform({vec_col}, x -> CAST(x AS DOUBLE))").alias("vd"),
        F.expr(
            FR.norm_chain(SP, f"transform({vec_col}, x -> CAST(x AS DOUBLE))", full_dim)
        ).alias("nrm"),
    ).withColumn("cell", F.expr(_argmin_dist_expr("vd", cents, cell_dim)))
    from engine_spark.fsio import publish_parquet_dir

    publish_parquet_dir(fs, e, path, final, partition_by="cell")


def _ivf_index_vectors(spark, path: str) -> DataFrame:
    """The full persisted index: the base build UNION every CANONICAL
    ingest epoch (each side keeps its own cell partitioning for pruning).
    The epoch set resolves through the shared ``EpochLog`` shadowing
    protocol, so a compacted ``-c`` dir replaces its merged victims even
    while a deferred vacuum leaves them on disk — reading both would
    duplicate candidate rows and corrupt top-k ranks. Epoch reads use
    the base build's EXPLICIT schema — an epoch whose micro-batch was
    empty is a dir with only _SUCCESS, where schema inference would
    throw but an explicit schema reads as zero rows."""
    from engine_spark.fsio import EpochLog, HadoopFS

    fs = HadoopFS(spark, path)
    vec = spark.read.parquet(f"{path}/vectors")
    for _, epath in EpochLog(fs, f"{path}/epochs").canonical():
        vec = vec.unionByName(spark.read.schema(vec.schema).parquet(epath))
    return vec


def ivf_index_compact(spark, path: str, upto_epoch: int,
                      vacuum: bool = True) -> int:
    """Merge every canonical ingest epoch with id <= ``upto_epoch`` into
    ONE ``epoch-<upto>-c`` dir (cell-partitioned, like every epoch), then
    remove the originals. Returns the number of dirs merged.

    This is the IVF face of the BM25 store's compaction contract
    (retrieval_store.py): a long-lived ingest stream otherwise
    accumulates one cell-partitioned dir per micro-batch FOREVER — the
    listing-bound regime compaction exists to prevent; at 100 TB the
    probed-cell partition pruning is per-epoch-dir, so epoch count
    multiplies both listing cost and per-query file opens. Protocol
    properties, all via the shared ``EpochLog``:

    - publish-first + listing-time shadowing: a crash between the ``-c``
      publish and victim removal is harmless (shadowed dirs are never
      read — duplicated vectors WOULD duplicate top-k candidates, so
      shadow resolution is mandatory, exactly like BM25's tf
      double-count);
    - replay-safe: the watermark must be strictly below the newest
      committed epoch and must name an actually-ingested one;
    - ``vacuum=False`` defers victim removal for SNAPSHOT ISOLATION — an
      in-flight search keeps reading its intact (bit-identical: the
      merge only re-groups rows) pre-compaction snapshot, and a later
      :func:`ivf_index_vacuum` reclaims the shadowed dirs after a grace
      period longer than the slowest query (the Delta/Iceberg VACUUM
      contract).
    """
    import json

    from engine_spark.fsio import EpochLog, HadoopFS, publish_parquet_dir

    fs = HadoopFS(spark, path)
    log = EpochLog(fs, f"{path}/epochs")
    victims = log.compact_victims(upto_epoch)
    if len(victims) <= 1:
        return 0
    schema = spark.read.parquet(f"{path}/vectors").schema
    merged = spark.read.schema(schema).parquet(victims[0][1])
    for _, p in victims[1:]:
        merged = merged.unionByName(spark.read.schema(schema).parquet(p))
    stats = {"epochs": sorted(log.merged_ids(victims))}
    final = log.path(upto_epoch, compacted=True)
    if not publish_parquet_dir(
        fs, merged, path, final,
        partition_by="cell",
        sidecar=("_stats.json", json.dumps(stats).encode()),
    ):
        raise RuntimeError(f"compaction publish to {final} failed")
    if vacuum:
        for _, p in victims:
            fs.delete(p)
    return len(victims)


def ivf_index_vacuum(spark, path: str) -> int:
    """Delete every ingest-epoch dir shadowed by the maximal ``-c`` dir
    (see ``EpochLog.vacuum`` for the grace-period caller contract).
    Returns the number of dirs removed."""
    from engine_spark.fsio import EpochLog, HadoopFS

    return EpochLog(HadoopFS(spark, path), f"{path}/epochs").vacuum()
