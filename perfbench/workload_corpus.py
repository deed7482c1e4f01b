"""corpus: incremental ingest into the durable stores, searches between
epochs, then one batch dedup and decode pass.

Why: ``datapipe`` and ``fsio`` do nearly all the work here and none in
the other two workloads. Writes run beside reads, so a write-path gain
that costs search latency or disk space shows up.

Inputs (gen.py): N_BASE documents and embeddings, each replicated
REPLICAS times with shifted doc ids and dealt to EPOCHS epochs at random,
so later epochs carry exact duplicates of earlier ones.

1. Ingest (writes), per epoch: ``BloomDedupStore.process_batch`` flags
   duplicates and the survivors go into
   ``IncrementalBM25Index.add_batch``. After every COMPACT_EVERY-th epoch
   both stores compact every epoch but the newest, then vacuum.
   ``throughput_per_s`` is documents ingested per second of ingest,
   compaction included. Epoch 0 also pays the stores' first-use costs.
2. Search (reads): SEARCHES_PER_EPOCH BM25-store searches (3 keywords,
   top 10) after each epoch but the first. ``latency_p50_ms`` is their
   median wall time.
3. Batch pass: MinHash-LSH and ExactSubstr dedup (the registry queries),
   the Arrow embedding-cosine dedup, and a bounded decode sample
   of DECODE_DOCS documents through the H.264, JPEG and PNG registry
   queries. The per-layer ``batch.pass_s`` is its wall time; the oracle
   checks are not timed.

``cpu_s`` and ``peak_rss_mb`` cover all three steps. The work is fixed,
whatever ``--seconds`` says, so ``cpu_s`` compares like with like.

Checks, untimed: every epoch's duplicate flags equal an in-Python exact
dedup; every BM25-store search equals a one-shot ``bm25_scores`` over
the documents kept up to its epoch (the traced pass leaves these
searches unchecked and uncounted); the registry queries equal their
DuckDB oracles; every Arrow embedding pair has a numpy cosine at or
above the threshold and every planted replica pair is found.
"""

from __future__ import annotations

import os
import time

from common import latency_summary, log, median, named_latency, record_latency

N_BASE = 100
REPLICAS = 3
EPOCHS = 3
COMPACT_EVERY = 2
SEARCHES_PER_EPOCH = 3
DECODE_DOCS = 16
BM25_TOPK = 10
DEDUP_QUERIES = {"minhash": "dedup_minhash_lsh", "exact_substr": "dedup_exact_substr"}
DECODE_QUERIES = {"h264": "multimodal_h264", "jpeg": "multimodal_jpeg", "png": "multimodal_resize"}


def _dir_stats(path: str) -> tuple[int, int, int]:
    """(bytes, files, epoch state dirs) under path."""
    size = files = dirs = 0
    for root, dnames, fnames in os.walk(path):
        dirs += sum(1 for d in dnames if d.startswith("epoch-"))
        for f in fnames:
            files += 1
            size += os.path.getsize(os.path.join(root, f))
    return size, files, dirs


def _write_inputs(b, data: str) -> dict:
    """Per-epoch and whole-corpus parquet, plus the decode sample."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from gen import REPLICA_STRIDE, base_documents, base_embeddings, corpus_epochs

    docs = base_documents(b.seed, N_BASE)
    emb = base_embeddings(b.seed, N_BASE)
    epochs = corpus_epochs(b.seed, N_BASE, REPLICAS, EPOCHS)

    def tables(ids: list[int]):
        base = [i % REPLICA_STRIDE for i in ids]
        d = pa.table({
            "doc_id": pa.array(ids, pa.int64()),
            "text": [docs["text"][i] for i in base],
            "lang": [docs["lang"][i] for i in base],
            "source": [docs["source"][i] for i in base],
            "n_chars": pa.array([docs["n_chars"][i] for i in base], pa.int64()),
        })
        e = pa.table({
            "vec_id": pa.array(ids, pa.int64()),
            "embedding": pa.array([emb[i].tolist() for i in base], pa.list_(pa.float32())),
            "label": pa.array([i % 10 for i in base], pa.int32()),
        })
        return d, e

    for k, ids in enumerate(epochs):
        out = os.path.join(data, f"epoch-{k}")
        os.makedirs(out)
        d, e = tables(ids)
        pq.write_table(d, os.path.join(out, "documents.parquet"))
        pq.write_table(e, os.path.join(out, "embeddings.parquet"))
    all_ids = sorted(i for ids in epochs for i in ids)
    os.makedirs(os.path.join(data, "corpus"))
    d, e = tables(all_ids)
    pq.write_table(d, os.path.join(data, "corpus", "documents.parquet"))
    pq.write_table(e, os.path.join(data, "corpus", "embeddings.parquet"))
    os.makedirs(os.path.join(data, "decode"))
    d, _ = tables(list(range(DECODE_DOCS)))
    pq.write_table(d, os.path.join(data, "decode", "documents.parquet"))
    return {"docs": docs, "emb": np.asarray(emb, dtype=np.float64), "epochs": epochs}


def expected_dup_flags(epochs: list[list[int]], text_of) -> list[dict[int, bool]]:
    """Exact dedup, first occurrence wins: a document is a duplicate when
    its case-folded text appeared in an earlier epoch or earlier in its own
    epoch (by doc id)."""
    seen: set[str] = set()
    out = []
    for ids in epochs:
        flags = {}
        for i in sorted(ids):
            t = text_of(i).lower()
            flags[i] = t in seen
            seen.add(t)
        out.append(flags)
    return out


def run(b) -> dict:
    from engine_spark.datapipe.bloom import BloomDedupStore
    from engine_spark.datapipe.retrieval_store import IncrementalBM25Index
    from gen import REPLICA_STRIDE, search_terms

    spark = b.spark
    data = os.path.join(b.work, "data")
    stores = os.path.join(b.work, "stores")
    with b.span("gen.corpus"):
        inp = _write_inputs(b, data)
    text_of = lambda i: inp["docs"]["text"][i % REPLICA_STRIDE]  # noqa: E731
    expected = expected_dup_flags(inp["epochs"], text_of)
    terms = search_terms(b.seed, (EPOCHS - 1) * SEARCHES_PER_EPOCH)

    bloom = BloomDedupStore(spark, f"file://{stores}/bloom")
    bm25 = IncrementalBM25Index(spark, f"file://{stores}/bm25")

    cpu0 = b.sampler.cpu_seconds()
    b.sampler.reset_peak()
    ingest_s, ingested, text_bytes = 0.0, 0, 0
    search_ms: list[float] = []
    kept_ids: list[int] = []
    #: per epoch, the doc ids kept up to and including it
    kept: list[list[int]] = []
    #: (epoch, terms, rows) of every search
    searches: list[tuple[int, list[str], list]] = []
    L = b.layers
    for key in ("store.bloom.ingest_s", "store.bm25.add_batch_s", "store.compact_s",
                "store.vacuum_s"):
        L[key] = 0.0
    for k, ids in enumerate(inp["epochs"]):
        docs = spark.read.parquet(os.path.join(data, f"epoch-{k}", "documents.parquet"))
        t_epoch = time.perf_counter()
        with b.span("store.bloom.ingest"):
            t0 = time.perf_counter()
            flags = {r["doc_id"]: r["is_dup"] for r in
                     bloom.process_batch(docs.select("doc_id", "text"), k).collect()}
            L["store.bloom.ingest_s"] += time.perf_counter() - t0
        b.tally.record(f"bloom:epoch-{k}", flags == expected[k],
                       f"{sum(flags.get(i) != v for i, v in expected[k].items())} flags differ")
        keep = sorted(i for i, dup in flags.items() if not dup)
        kept_ids.extend(keep)
        kept.append(list(kept_ids))
        keep_df = spark.createDataFrame([(i,) for i in keep], "doc_id long")
        with b.span("store.bm25.add_batch"):
            t0 = time.perf_counter()
            bm25.add_batch(docs.join(keep_df, "doc_id", "left_semi"), k)
            L["store.bm25.add_batch_s"] += time.perf_counter() - t0
        if k > 0 and k % COMPACT_EVERY == 0:
            with b.span("store.compact"):
                t0 = time.perf_counter()
                # every epoch but the newest, as the stores require
                bloom.compact(k - 1)
                bm25.compact(k - 1, vacuum=False)
                L["store.compact_s"] += time.perf_counter() - t0
            with b.span("store.vacuum"):
                t0 = time.perf_counter()
                bm25.vacuum()
                L["store.vacuum_s"] += time.perf_counter() - t0
        ingest_s += time.perf_counter() - t_epoch
        ingested += len(ids)
        text_bytes += sum(len(text_of(i).encode()) for i in ids)
        size, files, dirs = _dir_stats(stores)
        L["fsio.bytes_written"], L["fsio.files"], L["fsio.state_dirs"] = size, files, dirs

        for j in range(SEARCHES_PER_EPOCH if k else 0):
            words = terms[(k - 1) * SEARCHES_PER_EPOCH + j]
            qdf = spark.createDataFrame([(0, w) for w in words], "q_id INT, term STRING")
            with b.span("store.bm25.search"):
                t0 = time.perf_counter()
                rows = bm25.search(qdf, topk=BM25_TOPK).collect()
                search_ms.append((time.perf_counter() - t0) * 1000.0)
            searches.append((k, words, rows))
    log(f"corpus: ingested {ingested} docs in {ingest_s:.2f}s, searches (ms) "
        f"{[round(x) for x in search_ms]}")

    dedup_s, decode_s, pair_rows, arrow_pairs = _batch_pass(b, data)
    pass_s = L["batch.pass_s"] = dedup_s + decode_s
    cpu_s = b.sampler.cpu_seconds() - cpu0
    peak = b.sampler.peak_rss_mb
    log(f"corpus: batch pass {pass_s:.2f}s (dedup {dedup_s:.2f}s, decode {decode_s:.2f}s)")
    L["cache.pinned_rdds"] = float(b.pinned_rdds())

    if b.checks:
        _check_bm25(b, data, kept, searches)
        _check_arrow_pairs(b, inp, arrow_pairs)
        log("corpus: checks done")

    summary = latency_summary(search_ms)
    record_latency(L, summary)
    L["store.bm25.search_ms_p50"] = median(search_ms)
    L["dedup.pairs_out"] = float(pair_rows)
    size, _, _ = _dir_stats(stores)
    L["fsio.store_bytes_per_input_byte"] = size / text_bytes
    decode_docs = DECODE_DOCS * len(DECODE_QUERIES)
    b.named = {
        "ingest_docs_per_s": [ingested / ingest_s, "docs/s"],
        **named_latency("search_latency", summary),
        "dedup_pass_s": [dedup_s, "s"],
        "decode_docs_per_s": [decode_docs / decode_s, "docs/s"],
        "store_bytes_per_input_byte": [size / text_bytes, "ratio"],
    }
    return {"throughput_per_s": ingested / ingest_s, "latency_p50_ms": summary["p50"],
            "cpu_s": cpu_s, "peak_rss_mb": peak}


def _batch_pass(b, data: str) -> tuple[float, float, int, list]:
    """Dedup and decode, each registry answer checked against its DuckDB
    oracle (untimed). Returns (dedup s, decode s, pair rows, Arrow pairs)."""
    import duckdb
    from pyspark.sql import functions as F
    from tools.check_correctness import compare, load_oracle

    from engine_spark.datapipe.queries import COSINE_T, LSH_PROJ_DIM, PLANES, SP, _vecd
    from engine_spark.datapipe.vector import dedup_embedding_cosine_arrow
    from engine_spark.queries import QUERIES

    spark = b.spark
    corpus, decode = os.path.join(data, "corpus"), os.path.join(data, "decode")
    answers: dict[str, tuple[str, object]] = {}
    dedup_s = decode_s = 0.0
    pair_rows = 0
    build_ms = exec_ms = 0.0

    def registry(name: str, src: str):
        nonlocal build_ms, exec_ms
        t0 = time.perf_counter()
        with b.span(f"operators.build.{name}"):
            df = QUERIES[name].spark(spark, src)
        t1 = time.perf_counter()
        with b.span(f"operators.exec.{name}"):
            pdf = df.toPandas()
        t2 = time.perf_counter()
        build_ms += (t1 - t0) * 1000.0
        exec_ms += (t2 - t1) * 1000.0
        answers[name] = (src, pdf)
        return pdf, t2 - t0

    for layer, name in DEDUP_QUERIES.items():
        with b.span(f"dedup.{layer}"):
            pdf, dt = registry(name, corpus)
        b.layers[f"dedup.{layer}_s"] = dt
        dedup_s += dt
        pair_rows += len(pdf)
    with b.span("dedup.embedding"):
        t0 = time.perf_counter()
        vecs = (spark.read.parquet(os.path.join(corpus, "embeddings.parquet"))
                .repartition(spark.sparkContext.defaultParallelism)
                .select("vec_id", F.expr(_vecd(SP)).alias("vd")))
        arrow_pairs = dedup_embedding_cosine_arrow(vecs, PLANES, LSH_PROJ_DIM, COSINE_T).collect()
        dt = time.perf_counter() - t0
    b.layers["dedup.embedding_s"] = dt
    dedup_s += dt
    pair_rows += len(arrow_pairs)
    for kind, name in DECODE_QUERIES.items():
        with b.span(f"decode.{kind}"):
            _, dt = registry(name, decode)
        b.layers[f"decode.{kind}_s"] = dt
        decode_s += dt
    b.layers["operators.build_ms"] = build_ms
    b.layers["operators.exec_ms"] = exec_ms
    log("corpus: batch pass timed, checking")
    for name, (src, pdf) in answers.items() if b.checks else ():
        con = duckdb.connect()
        con.sql(f"CREATE VIEW documents AS SELECT * FROM '{src}/documents.parquet'")
        if src == corpus:
            con.sql(f"CREATE VIEW embeddings AS SELECT * FROM '{src}/embeddings.parquet'")
        problems = compare(name, pdf, load_oracle(con, QUERIES[name].oracle))
        b.tally.record(f"oracle:{name}", not problems, "; ".join(problems))
        con.close()
    return dedup_s, decode_s, pair_rows, arrow_pairs


def _check_bm25(b, data, kept: list[list[int]], searches: list) -> None:
    """Every BM25-store search equals a one-shot ``bm25_scores`` over the
    documents kept up to and including its epoch. One one-shot job per
    epoch scores all of that epoch's searches, each under its own q_id."""
    from engine_spark.datapipe.queries import _topk_by, bm25_scores

    spark = b.spark
    corpus = spark.read.parquet(os.path.join(data, "corpus", "documents.parquet"))
    for k in sorted({e for e, _, _ in searches}):
        mine = [(words, rows) for e, words, rows in searches if e == k]
        keep = spark.createDataFrame([(i,) for i in kept[k]], "doc_id long")
        docs = corpus.join(keep, "doc_id", "left_semi")
        qdf = spark.createDataFrame([(j, w) for j, (words, _) in enumerate(mine) for w in words],
                                    "q_id INT, term STRING")
        oneshot: dict[int, list[tuple]] = {}
        for r in (_topk_by(bm25_scores(docs, qdf), "q_id", "score", "doc_id", "rnk", BM25_TOPK)
                  .select("q_id", "doc_id", "score", "rnk").collect()):
            oneshot.setdefault(r[0], []).append(tuple(r[1:]))
        for j, (words, rows) in enumerate(mine):
            store = sorted((r["doc_id"], r["score"], r["rnk"]) for r in rows)
            want = sorted(oneshot.get(j, []))
            b.tally.record(f"bm25:epoch-{k}:{'+'.join(words)}", store == want,
                           f"store {len(store)} rows, one-shot {len(want)} rows")


def _check_arrow_pairs(b, inp: dict, pairs) -> None:
    """Every reported pair is a true near duplicate by numpy cosine, and
    every pair of replicas of one base document is reported."""
    import numpy as np

    from engine_spark.datapipe.queries import COSINE_T
    from gen import REPLICA_STRIDE

    emb = inp["emb"]
    bad = 0
    got = set()
    for r in pairs:
        a, c = int(r[0]), int(r[1])
        va, vc = emb[a % REPLICA_STRIDE], emb[c % REPLICA_STRIDE]
        cos = float(np.dot(va, vc) / (np.linalg.norm(va) * np.linalg.norm(vc)))
        if cos < COSINE_T - 1e-9:
            bad += 1
        got.add((min(a, c), max(a, c)))
    all_ids = sorted(i for ids in inp["epochs"] for i in ids)
    by_base: dict[int, list[int]] = {}
    for i in all_ids:
        by_base.setdefault(i % REPLICA_STRIDE, []).append(i)
    planted = {(x, y) for ids in by_base.values() for x in ids for y in ids if x < y}
    missed = len(planted - got)
    b.tally.record("embedding:pairs", bad == 0 and missed == 0,
                   f"{bad} pairs below threshold, {missed} replica pairs missed")
