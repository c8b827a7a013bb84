"""The two workloads. Each drives the engine only through the public
functions of ``session``, ``streaming.pipeline``, ``schemas.avro_binary``,
``incremental``, ``catalog`` and ``queries``, one operation at a time
(closed loop, one client), and checks every operation's output after
the timed region.

Each workload function gets a ``Run`` and fills its record:
``ops`` (one dict per operation: seconds, items, ok), the measured
window, workload metrics and per-layer metrics.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))

# -------------------------------------------------------------- stream_ingest
CONTRACT = "ProductionConsumptionSettlement"
ROWS_PER_FILE = 1000
MAX_FILES_PER_TRIGGER = 1
FILES_PER_SEGMENT = 4
WATERMARK = "30 days"

# --------------------------------------------------------------- curation_mix
SEED_SOURCES = 8
BATCH_DOCS = 250
QUERIES_PER_ROUND = 2
MIN_BATCHES = 3
# Thirteen of the 26 queries the mix was specified with: a cold pass of
# all 26 takes ~45 s on 4 vCPUs, which does not fit the run budget. The
# kept ones still reach every layer the dropped ones do (catalog, pin,
# pin_if_big, connected components, k-means).
ANALYTICS = [
    "flagship_event_rollup", "tpch_q1_pricing", "tpch_q5_local_supplier",
    "window_topn_per_group", "asof_join_events", "sessionize_events",
    "funnel_conversion", "sketch_rollup_union",
]
CURATION = [
    "neardup_components_star", "duplicate_passages", "ivf_topk",
    "text_stats", "tfidf_top_terms",
]
MIX = ANALYTICS + CURATION


def generate(run, kind: str, out_dir: str, **kw) -> dict:
    """Write a workload's inputs in a child process (so generator memory
    never counts toward the benchmark's peak RSS) and return its summary."""
    t = time.perf_counter()
    cmd = [
        sys.executable, "-c",
        "import json, sys; sys.path.insert(0, sys.argv[1]); import inputs; "
        "print(json.dumps(inputs.generate(*json.loads(sys.argv[2]))))",
        HERE, json.dumps([kind, run.seed, out_dir, kw]),
    ]
    out = subprocess.run(cmd, check=True, capture_output=True, text=True).stdout
    run.gen_s += time.perf_counter() - t
    return json.loads(out.strip().splitlines()[-1])


def _progress(q) -> list[dict]:
    return [json.loads(p.json) for p in q.recentProgress]


def _geomean(values: list[float]) -> float:
    return math.exp(statistics.mean(math.log(v) for v in values))


# ============================================================ stream_ingest

def stream_ingest(run) -> None:
    from pyspark.sql import functions as F

    from ingest_spark.schemas import avro_binary
    from ingest_spark.schemas.contracts import CONTRACTS, contract_schema
    from ingest_spark.streaming import pipeline

    import inputs

    # a segment of four files takes ~6.5 s on 4 vCPUs: generate what a run
    # at twice that speed would consume. The replayed day opens the second
    # segment, so its copies reach the sink's dedup state through a restart
    # from the checkpoint.
    n_files = FILES_PER_SEGMENT * (run.seconds // 3 + 1)
    stage = os.path.join(run.work, "stream_stage")
    warm_stage = os.path.join(run.work, "stream_warm")
    gen = generate(run, "stream", stage, n_files=n_files, rows_per_file=ROWS_PER_FILE,
                   replay_file=FILES_PER_SEGMENT)
    # the warm-up drains one full segment: with a shorter one the first
    # timed micro-batches still ran ~30% slower than the later ones
    generate(run, "stream", warm_stage, n_files=FILES_PER_SEGMENT, rows_per_file=ROWS_PER_FILE,
             replay_file=1, salt=1)

    spark = run.session()
    schema, avsc = contract_schema(CONTRACT), CONTRACTS[CONTRACT]
    run.instrument([
        (pipeline, "read_file_stream", "stream.read_file_stream"),
        (pipeline, "ingest_transform", "stream.ingest_transform"),
        (pipeline, "write_stream_avro_containers", "stream.write_stream_avro_containers"),
        (avro_binary, "write_container_dir", "avro.write_container_dir"),
        (avro_binary, "scan_container_dir", "avro.scan_container_dir"),
    ])

    def drain(src: str, tag: str) -> tuple[float, list[dict]]:
        """One AvailableNow run of source -> clean -> hash+dedup -> Avro."""
        stream = pipeline.read_file_stream(
            spark, src, schema, "json", max_files_per_trigger=MAX_FILES_PER_TRIGGER
        )
        cleaned = stream.withColumn("event_ts", F.to_timestamp("HourUTC"))
        deduped = pipeline.ingest_transform(
            cleaned, list(inputs.SETTLEMENT_FIELDS), "event_ts", watermark=WATERMARK
        )
        t = time.perf_counter()
        q = pipeline.write_stream_avro_containers(
            deduped, avsc, os.path.join(run.work, f"{tag}_sink"),
            os.path.join(run.work, f"{tag}_ckpt"),
        )
        q.awaitTermination()
        return time.perf_counter() - t, _progress(q)

    def expose(stage_dir: str, src: str, names: list[str]) -> None:
        os.makedirs(src, exist_ok=True)
        for f in names:
            os.rename(os.path.join(stage_dir, f), os.path.join(src, f))

    def warm():
        src = os.path.join(run.work, "warm_src")
        expose(warm_stage, src, sorted(os.listdir(warm_stage)))
        drain(src, "warm")

    run.setup(warm)

    files = sorted(os.listdir(stage))
    src = os.path.join(run.work, "src")
    consumed, walls, progress = 0, [], []
    run.begin()
    while consumed < len(files) and not run.time_up():
        seg = files[consumed:consumed + FILES_PER_SEGMENT]
        expose(stage, src, seg)
        consumed += len(seg)
        try:
            with run.span("stream.segment"):
                wall, prog = drain(src, "main")
        except Exception as e:  # a failed run ends the stream; counted below
            run.fail("stream.segment", e)
            break
        walls.append(wall)
        progress.extend(prog)
    run.end()

    data = [p for p in progress if p["numInputRows"] > 0]
    for p in data:
        run.op(p["durationMs"]["triggerExecution"] / 1e3, p["numInputRows"])
        run.batch_times.append(p["durationMs"]["triggerExecution"] / 1e3)
    rows_in = sum(p["numInputRows"] for p in data)

    def state_sum(key: str) -> float:
        return sum(sum(s.get(key, 0) for s in p.get("stateOperators", [])) for p in data)

    dropped = state_sum("numRowsDroppedByWatermark")
    run.check_all(dropped == 0, f"{dropped} rows dropped as late by the watermark")

    # correctness: the sink, read back, equals the distinct rows of the
    # files consumed (count and order-independent fingerprint)
    sink = os.path.join(run.work, "main_sink")
    t = time.perf_counter()
    back = avro_binary.scan_container_dir(spark, f"{sink}/batch-*", avsc).collect()
    scan_s = time.perf_counter() - t
    got = inputs.fingerprint(inputs.row_key(r.asDict()) for r in back)
    want_n = sum(n for n, _ in gen["per_file"][:consumed])
    want = (want_n, sum(s for _, s in gen["per_file"][:consumed]) % 2**64)
    run.check_all(got == want, f"sink (rows, fingerprint) {got} != expected {want}")

    avro_files = [
        os.path.join(d, f) for d, _, fs in os.walk(sink) for f in fs if f.endswith(".avro")
    ]
    wall = sum(walls)
    run.metrics.update({"files_consumed": consumed, "rows_in": rows_in})
    if rows_in and wall:
        run.metrics["rows_per_s"] = run.metrics["items_per_s"] = rows_in / wall
        run.metrics["geomean_s"] = _geomean(run.batch_times)
    last_state = (data[-1].get("stateOperators") or [{}])[0] if data else {}

    def per_batch(key: str) -> float:
        return sum(p["durationMs"].get(key, 0) for p in data) / max(len(data), 1)

    run.layers.update({
        "source.latest_offset_ms": per_batch("latestOffset"),
        "source.get_batch_ms": per_batch("getBatch"),
        "source.input_rows": rows_in,
        "stream.add_batch_ms": per_batch("addBatch"),
        "stream.query_planning_ms": per_batch("queryPlanning"),
        "stream.wal_commit_ms": per_batch("walCommit"),
        "stream.commit_offsets_ms": per_batch("commitOffsets"),
        "stream.dedup_ratio": len(back) / rows_in if rows_in else 0.0,
        "state.commit_ms": state_sum("commitTimeMs") / max(len(data), 1),
        "state.rows_total": last_state.get("numRowsTotal", 0),
        "state.rows_removed": state_sum("numRowsRemoved"),
        "state.memory_bytes": max(
            (s.get("memoryUsedBytes", 0) for p in data for s in p.get("stateOperators", [])),
            default=0,
        ),
        "state.dropped_by_watermark": dropped,
        "avro.bytes_per_row": sum(os.path.getsize(f) for f in avro_files) / max(len(back), 1),
        "avro.files": len(avro_files),
        "avro.scan_s": scan_s,
    })


# ============================================================= curation_mix

def curation_mix(run) -> None:
    """The LLM-data curation pod: incremental ingest of document batches
    into corpus state plus the analytics/curation query mix, one
    operation at a time. The timed region seeds the corpus state, then
    runs rounds of one ingest batch followed by the next
    ``QUERIES_PER_ROUND`` queries of the mix (in a seeded order) until
    ``--seconds`` have passed and at least ``MIN_BATCHES`` batches are
    in, and then finishes the pass so that every query of the mix is
    measured. The warm-up runs each query once; the incremental path
    gets no warm-up of its own, since after the query pass its first
    call costs under 2 s more than a warm one on 4 vCPUs, and the
    median of the batch times does not rest on the first batch."""
    import random

    from ingest_spark import catalog, incremental, pinning, queries
    from ingest_spark.operators import dedup, similarity

    data = os.path.join(run.work, "tables")
    docs_dir = os.path.join(run.work, "docs")
    gen = generate(run, "curation", run.work, seed_sources=SEED_SOURCES, batch_docs=BATCH_DOCS)
    n_batches = len(gen["batch_bytes"])

    spark = run.session()
    run.instrument([
        (incremental, "init_state", "incremental.init_state"),
        (incremental, "ingest_and_commit", "incremental.ingest_and_commit"),
        (incremental, "ingest_batch", "incremental.ingest_batch"),
        (incremental, "commit_batch", "incremental.commit_batch"),
        (catalog, "load_table", "catalog.load_table"),
        (queries, "load_table", "catalog.load_table"),
        (pinning, "pin", "pinning.pin"),
        (queries, "pin", "pinning.pin"),
        (pinning, "pin_if_big", "pinning.pin_if_big"),
        (queries, "pin_if_big", "pinning.pin_if_big"),
        (dedup, "connected_components", "dedup.connected_components"),
        (similarity, "kmeans_centroids", "similarity.kmeans_centroids"),
    ])
    if run.tracer is not None:
        rollup = incremental.foreach_batch_rollup

        def traced_rollup(path, *a, **kw):
            name = f"incremental.rollup.{os.path.basename(path)}"
            return run.tracer.wrap(rollup(path, *a, **kw), name)

        incremental.foreach_batch_rollup = traced_rollup
        run.undo.append(lambda: setattr(incremental, "foreach_batch_rollup", rollup))

    def load(name: str):
        return catalog.load_table(spark, docs_dir, name)

    def query(name: str) -> tuple[list, list]:
        with run.span(f"queries.{name}"):
            with run.span("queries.build"):
                df = queries.QUERIES[name](spark, data)
            return df.collect(), df.columns

    def ingest(state: str, batch_id: int, name: str) -> tuple[list, list, int]:
        with run.span("incremental.batch"):
            dec = incremental.ingest_and_commit(spark, load(name), state, batch_id)
            return dec.collect(), dec.columns, batch_id

    def warm():
        for name in MIX:
            query(name)

    run.setup(warm)

    state = os.path.join(run.work, "state")
    order = list(MIX)
    random.Random(run.seed).shuffle(order)
    results: list[tuple[str, float, object]] = []  # (kind, seconds, output)
    state_sizes: dict[int, int] = {}  # batch id -> live state bytes after it

    def timed(kind: str, fn, *args) -> bool:
        t = time.perf_counter()
        try:
            out = fn(*args)
        except Exception as e:  # counted, and the loop goes on
            run.fail(kind, e)
            return False
        results.append((kind, time.perf_counter() - t, out))
        return True

    run.begin()
    timed("seed", lambda: (incremental.init_state(spark, load("seed"), state), None))
    b = n_queries = 0
    while b < n_batches and (b < MIN_BATCHES or not run.time_up()):
        b += 1
        if timed("ingest_batch", ingest, state, b, f"batch-{b:04d}"):
            state_sizes[b] = _live_state_bytes(state)
        for _ in range(QUERIES_PER_ROUND):
            kind = order[n_queries % len(order)]
            timed(kind, query, kind)
            n_queries += 1
    while n_queries < len(order):
        timed(order[n_queries], query, order[n_queries])
        n_queries += 1
    run.end()

    # correctness, outside the timed region
    query_checks = _query_checks(data, set(MIX))
    done = [out[2] for kind, _, out in results if kind == "ingest_batch"]
    oracle = dict(zip(done, _incremental_oracle(docs_dir, done)))
    kept = 0
    for kind, s, out in results:
        idx = run.op(s, BATCH_DOCS if kind == "ingest_batch" else 1, name=kind)
        if kind == "ingest_batch":
            rows, cols, b = out
            want_cols, want = oracle[b]
            run.check(idx, _same_rows(rows, cols, want, want_cols), f"ingest batch {b} decisions")
            kept += sum(r["kept"] for r in rows)
            run.batch_times.append(s)
        elif kind != "seed":
            run.check(idx, query_checks[kind](*out), kind)

    per_kind: dict[str, list[float]] = {}
    for kind, s, _ in results:
        per_kind.setdefault(kind, []).append(s)
    q_medians = {k: statistics.median(v) for k, v in per_kind.items() if k in MIX}
    run.metrics.update({"kept_docs": kept, "batches": len(run.batch_times)})
    if "seed" in per_kind:
        run.metrics["seed_s"] = per_kind["seed"][0]
    if q_medians:
        run.metrics["suite_s"] = sum(q_medians.values())
        run.metrics["geomean_s"] = _geomean(list(q_medians.values()))
    if run.batch_times:
        run.metrics["docs_per_s"] = run.metrics["items_per_s"] = (
            BATCH_DOCS * len(run.batch_times) / sum(run.batch_times)
        )
    for k, v in q_medians.items():
        run.layers[f"queries.{k}.s"] = v
    if state_sizes:
        # every maintainer rewrites its whole table, so the bytes a batch
        # writes are the size of the live state after it
        run.layers["incremental.state_bytes"] = state_sizes[max(state_sizes)]
        run.layers["incremental.write_amplification"] = statistics.mean(
            w / gen["batch_bytes"][b - 1] for b, w in state_sizes.items()
        )


def _live_state_bytes(state: str) -> int:
    """Bytes of the current version of every state table (the layout
    ``ingest_spark.incremental`` documents)."""
    from ingest_spark.streaming.pipeline import RenameSwap

    total = 0
    for table in ("hashes", "bands", "bloom", "novelty"):
        live = RenameSwap.resolve(os.path.join(state, table))
        for d, _, fs in os.walk(live):
            total += sum(os.path.getsize(os.path.join(d, f)) for f in fs)
    return total


def _same_rows(rows, cols, want, want_cols) -> bool:
    """The oracle harness's comparison: column names, row count and an
    order-insensitive multiset of normalized values."""
    from oracle_harness import rows_to_multiset

    return (
        sorted(cols) == sorted(want_cols)
        and len(rows) == len(want)
        and rows_to_multiset([tuple(r) for r in rows], cols) == rows_to_multiset(want, want_cols)
    )


def _incremental_oracle(docs_dir: str, batches: list[int]) -> list[tuple[list, list]]:
    import duckdb

    from ingest_spark.queries import ORACLES

    sql = ORACLES["incremental_ingest_e2e"]
    for old, new in (
        ("SELECT * FROM documents WHERE source <> 'src1'", "SELECT * FROM ex_t"),
        ("SELECT * FROM documents WHERE source = 'src1'", "SELECT * FROM new_t"),
    ):
        if old not in sql:
            raise RuntimeError(f"oracle SQL no longer contains {old!r}")
        sql = sql.replace(old, new)
    con = duckdb.connect()
    con.sql(f"CREATE TABLE ex_t AS SELECT * FROM '{docs_dir}/seed.parquet'")
    out = []
    for b in batches:
        path = f"{docs_dir}/batch-{b:04d}.parquet"
        con.sql(f"CREATE OR REPLACE VIEW new_t AS SELECT * FROM '{path}'")
        con.sql("CREATE OR REPLACE VIEW documents AS SELECT * FROM ex_t UNION ALL SELECT * FROM new_t")
        rel = con.sql(sql)
        cols = [d[0] for d in rel.description]
        rows = rel.fetchall()
        out.append((cols, rows))
        kept = [r[cols.index("doc_id")] for r in rows if r[cols.index("kept")]]
        if kept:
            con.sql(
                f"INSERT INTO ex_t SELECT * FROM '{path}' WHERE doc_id IN ({','.join(map(str, kept))})"
            )
    return out


def _query_checks(data: str, names: set[str]) -> dict:
    """Query name -> check(rows, columns) against DuckDB at the same
    tables. Queries with a registered oracle compare as the oracle
    harness does; the two without one get checks derived from their
    oracle-backed twins."""
    from oracle_harness import duck_connection

    from ingest_spark.queries import ORACLES

    con = duck_connection(data)
    checks = {}
    for name in names:
        if name in ORACLES:
            rel = con.sql(ORACLES[name])
            want_cols = [d[0] for d in rel.description]
            want = rel.fetchall()
            checks[name] = lambda rows, cols, w=want, wc=want_cols: _same_rows(rows, cols, w, wc)
    if "sketch_rollup_union" in names:
        rel = con.sql(ORACLES["sketch_rollup_check"])
        exact = {r[0]: r[1] for r in rel.fetchall()}

        def sketch(rows, cols):
            got = {r["event_type"]: r for r in rows}
            return set(got) == set(exact) and all(
                got[k]["exact_users"] == v and abs(got[k]["hll_users"] - v) <= 0.05 * v
                for k, v in exact.items()
            )

        checks["sketch_rollup_union"] = sketch
    if "ivf_topk" in names:
        cos = dict(
            ((q, n), c)
            for q, n, c in con.sql(
                "WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e "
                "FROM embeddings) SELECT a.vec_id, b.vec_id, list_inner_product(a.e, b.e) / "
                "(sqrt(list_inner_product(a.e, a.e)) * sqrt(list_inner_product(b.e, b.e))) "
                "FROM v a JOIN v b ON a.vec_id < 5 AND b.vec_id <> a.vec_id"
            ).fetchall()
        )

        def ivf(rows, cols):
            per_q: dict[int, set] = {}
            for r in rows:
                per_q.setdefault(r["query_id"], set()).add(r["neighbor_id"])
                if abs(cos[(r["query_id"], r["neighbor_id"])] - r["cosine_sim"]) > 1e-4:
                    return False
            return sorted(per_q) == list(range(5)) and all(len(v) == 10 for v in per_q.values())

        checks["ivf_topk"] = ivf
    return checks


WORKLOADS = {
    "stream_ingest": stream_ingest,
    "curation_mix": curation_mix,
}
