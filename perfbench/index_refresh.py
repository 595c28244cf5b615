"""index_refresh: the indexer job a user waits for.

Closed loop, one caller. One repetition per run: a cold
``pipeline.run(embed=True)`` into a fresh catalog, one request of each
graph-query call served from the stores it wrote, a rerun with nothing
changed, a rerun after one lineage bucket's conversations were edited, the
fused ``pipeline.kg_edges_df`` into a noop sink, and a streaming drain
(``streaming.incremental_kg_edges``, availableNow) of that bucket's turns
followed by its redelivered, edited turns. Cold separates per-row cost, the
no-op rerun fixed per-run cost, the dirty rerun rewrite amplification; the
drain commits the same extraction as scope-replacing micro-batches.
"""

from __future__ import annotations

import os
import statistics
import time
from collections import Counter
from concurrent.futures import ThreadPoolExecutor

import numpy as np
from pyspark.sql import functions as F

import inputs
from common import (
    EDGE_COLS,
    JvmClock,
    fill_per_layer,
    oracle_results,
    redirect_store_root,
    request_layers,
    runtime_layers,
    same_rows,
    summarize,
    table_digest,
    tree_peak_rss_mb,
)

N_EVENTS = 6_000  # 6k turns over ~110 conversations, 25% in the mega-thread
N_USERS = 150
STAGES = ("mentions", "vectors", "edges")


def _lineage_marks(spark, catalog_dir: str) -> dict[tuple[str, int], object]:
    from grepai_spark.storage import Catalog

    rows = Catalog(spark, catalog_dir).read("lineage").collect()
    return {(r["stage"], r["bucket"]): r["updated_ts"] for r in rows}


def _pending(counters: dict) -> dict[str, int]:
    return {s: counters.get(f"{s}_buckets_pending", -1) for s in STAGES}


def _graph_calls(spark, cat: str, t1) -> dict:
    """kind -> (request, oracle SQL), each a function of the request's
    parameters. Requests are served from the stores the cold run just wrote
    (the store root of `cat` is `cat` itself, see run())."""
    from grepai_spark import graphq, oracles, search, stores

    def edges():
        return stores.open_store(spark, cat, "edges").drop("bucket")

    def vertices():
        return stores.open_store(spark, cat, "vertices")

    def bfs(p):
        adj, deg = stores.graph_adjacency(spark, cat, "both")
        return graphq.bfs(edges(), p["seed"], depth=2, adj=adj, deg=deg)

    return {
        "graphq.callers": (lambda p: graphq.callers(edges(), p["name"]),
                           lambda p: oracles.callers_oracle(p["name"])),
        "graphq.callees": (lambda p: graphq.callees(edges(), p["name"]),
                           lambda p: oracles.callees_oracle(p["name"])),
        "graphq.bfs": (bfs, lambda p: oracles.bfs_oracle(p["seed"])),
        "graphq.search_nodes": (
            lambda p: graphq.search_nodes(vertices(), p["query"]),
            lambda p: oracles.search_nodes_oracle(
                search.tokenize_query(p["query"])
            ),
        ),
        "graphq.fetch_node": (
            lambda p: graphq.fetch_node(
                vertices(), edges(), p["entity_id"], transcripts=t1
            ),
            lambda p: oracles.fetch_node_oracle(p["entity_id"]),
        ),
    }


def _materialized(sql: str) -> str:
    """DuckDB inlines a CTE at each reference, and the bfs and fetch_node
    oracles refer to their edge CTE (a whole kg_edges derivation) several
    times; the MATERIALIZED hint computes it once. Same rows, ~8x faster
    for bfs."""
    for cte in ("eg", "e"):
        sql = sql.replace(f"WITH {cte} AS (", f"WITH {cte} AS MATERIALIZED (", 1)
    return sql


def run(ctx):
    from grepai_spark import lineage, oracles, pipeline, streaming, synth
    from grepai_spark.storage import Catalog

    spark = ctx.spark
    rng = np.random.default_rng(ctx.seed)

    # ---- set-up: inputs -----------------------------------------------------
    sf = os.path.join(ctx.work, "sf")
    os.makedirs(sf)
    inputs.write_events(os.path.join(sf, "events.parquet"), N_EVENTS, N_USERS)
    base = inputs.transcripts_table(sf)
    conv_ids = base.column("conv_id").to_pylist()
    convs = spark.createDataFrame(
        [(c,) for c in sorted(set(conv_ids))], "conv_id string"
    )
    conv_bucket = {
        r["conv_id"]: r["bucket"]
        for r in lineage.with_bucket(convs, inputs.N_BUCKETS).collect()
    }
    edit = inputs.choose_edit(conv_bucket, Counter(conv_ids), rng)
    edited = inputs.apply_edit(base, edit, rng)
    layout_seed = int(rng.integers(2**31))
    v1 = os.path.join(ctx.work, "input_v1")
    v2 = os.path.join(ctx.work, "input_v2")
    inputs.write_layout(base, v1, np.random.default_rng(layout_seed))
    inputs.write_layout(edited, v2, np.random.default_rng(layout_seed))
    t1, t2 = spark.read.parquet(v1), spark.read.parquet(v2)
    d = synth.alias_dict_df(spark)
    n_turns = base.num_rows
    cat = os.path.join(ctx.work, "catalog")
    # graph requests: parameters drawn from the input's tools and roles and
    # from the vertices the dictionary canonicalizes to
    entity_ids = sorted(
        r[0] for r in oracle_results(sf, [], [oracles.kg_vertices_oracle()])[0][1]
    )
    graph = _graph_calls(spark, cat, t1)
    requests = inputs.graph_requests(
        rng,
        sorted({x for x in base.column("tool").to_pylist() if x}),
        sorted(set(base.column("role").to_pylist())),
        entity_ids,
    )
    # streaming drain: the dirtied bucket's turns, then its edited turns
    stream_convs = sorted(c for c, b in conv_bucket.items() if b == edit.bucket)
    stream_src = os.path.join(ctx.work, "stream_src")
    stream_rows = inputs.write_stream_source(
        base, edited, stream_convs, edit, stream_src
    )
    # the query plane opens the stores the indexer wrote: the store root of
    # the catalog directory is the catalog itself
    redirect_store_root(lambda sf_dir: sf_dir)
    ctx.install_tracer()
    clock = JvmClock(spark)
    setup_s = time.perf_counter() - ctx.t_start

    # ---- timed: one repetition ----------------------------------------------
    # cold run into a fresh catalog, graph requests served from it, no-op
    # rerun, dirty rerun, fused pass, streaming drain. What the checks need
    # is read back after each op, outside its timing.
    walls: dict[str, list[float]] = {}

    def timed(kind: str, fn):
        with ctx.op(kind) as rec:
            out = fn()
        walls.setdefault(kind, []).append(rec["wall_s"])
        return out

    def run_pipeline(t):
        return pipeline.run(spark, t, d, cat, embed=True)

    res = timed("index.cold", lambda: run_pipeline(t1))
    edges_cold = table_digest(res.edges, EDGE_COLS)

    served = []
    for kind, p in requests:
        df = timed(f"query:{kind}", lambda: _collect(graph[kind][0](p)))
        served.append(df)

    res = timed("index.noop", lambda: run_pipeline(t1))
    edges_noop = table_digest(res.edges, EDGE_COLS)
    noop_pending = _pending(res.counters)
    marks_before = _lineage_marks(spark, cat)

    res = timed("index.dirty", lambda: run_pipeline(t2))
    dirty_pending = _pending(res.counters)
    edges_dirty = table_digest(res.edges, EDGE_COLS)
    marks_after = _lineage_marks(spark, cat)

    timed(
        "index.kg_edges",
        lambda: pipeline.kg_edges_df(spark, t2, d)
        .write.format("noop").mode("overwrite").save(),
    )

    stream_out = os.path.join(ctx.work, "stream_out")
    q = timed(
        "index.stream",
        lambda: streaming.incremental_kg_edges(
            spark, stream_src, stream_out, os.path.join(ctx.work, "stream_ck"), d
        ),
    )
    batches = [p for p in q.recentProgress if p["numInputRows"] > 0]

    # ---- output checks ------------------------------------------------------
    # the DuckDB oracles run on a thread while Spark recomputes the digests
    t_checks = time.perf_counter()
    oracle_sqls = [oracles.kg_edges_oracle()] + [
        _materialized(graph[kind][1](p)) for kind, p in requests
    ]
    with ThreadPoolExecutor(max_workers=1) as pool:
        oracle_rows = pool.submit(oracle_results, sf, ["events"], oracle_sqls)
        kg_v1 = pipeline.kg_edges_df(spark, t1, d)
        kg_v1_rows = kg_v1.select(*EDGE_COLS).collect()
        want_v1 = table_digest(kg_v1, EDGE_COLS)
        want_v2 = table_digest(pipeline.kg_edges_df(spark, t2, d), EDGE_COLS)
        in_bucket = F.col("conv_id").isin(stream_convs)
        want_stream = table_digest(
            pipeline.kg_edges_df(spark, t2.where(in_bucket), d), EDGE_COLS
        )
        got_stream = table_digest(
            Catalog(spark, stream_out).read(streaming.KG_EDGES_TABLE), EDGE_COLS
        )
        kg_oracle, *request_oracles = oracle_rows.result()
    ok, why = same_rows(EDGE_COLS, kg_v1_rows, *kg_oracle)
    ctx.check("index.cold", ok, f"kg_edges vs DuckDB oracle: {why}")
    for (kind, p), (cols, rows), want in zip(requests, served, request_oracles):
        ok, why = same_rows(cols, rows, *want)
        ctx.check(f"query:{kind}", ok, f"{p}: {why}")
    ctx.check("index.cold", edges_cold == want_v1,
              f"edges {edges_cold} != kg_edges_df {want_v1}")
    ctx.check("index.noop", edges_noop == want_v1,
              f"edges {edges_noop} != kg_edges_df {want_v1}")
    ctx.check("index.noop", all(v == 0 for v in noop_pending.values()),
              f"no-op rerun had pending buckets {noop_pending}")
    ctx.check("index.dirty", edges_dirty == want_v2,
              f"edges {edges_dirty} != kg_edges_df {want_v2}")
    ctx.check("index.dirty", want_v2 != want_v1,
              "the edit did not change the edge set")
    redone = {k for k, ts in marks_after.items() if ts != marks_before.get(k)}
    expected = {(s, edit.bucket) for s in STAGES}
    ctx.check("index.dirty", redone == expected,
              f"recomputed {sorted(redone)} != dirtied {sorted(expected)}")
    ctx.check("index.dirty", dirty_pending == {s: 1 for s in STAGES},
              f"dirty rerun pending {dirty_pending}")
    # the noop sink returns nothing; its plan is the one checked above
    ctx.check("index.kg_edges", want_v2[0] > 0, "fused kg_edges is empty")
    # four files a trigger: the redelivered, edited turns come second
    ctx.check("index.stream", len(batches) == 2,
              f"{len(batches)} micro-batches carried rows, not 2")
    ctx.check("index.stream", got_stream == want_stream,
              f"stream sink {got_stream} != kg_edges_df {want_stream}")
    checks_s = time.perf_counter() - t_checks

    batch_s, op_geomean_ms = summarize(walls)
    ctx.info += [
        f"index_turns_per_s {n_turns / walls['index.cold'][0]:.1f} turns/s",
        f"refresh_noop_s {walls['index.noop'][0]:.3f} s",
        f"refresh_dirty_s {walls['index.dirty'][0]:.3f} s",
        f"kg_edges_turns_per_s {n_turns / walls['index.kg_edges'][0]:.1f} turns/s",
        f"stream_turns_per_s {sum(stream_rows) / walls['index.stream'][0]:.1f} turns/s",
        "op_walls_s " + " ".join(f"{k}={w[0]:.3f}" for k, w in walls.items()),
        f"checks_s {checks_s:.3f} s",
        f"failed_ops_ratio {len(ctx.failures) / ctx.attempted:.3f} ratio",
    ]
    end_to_end = {
        "setup_s": (setup_s, "s"),
        "batch_s": (batch_s, "s"),
        "op_geomean_ms": (op_geomean_ms, "ms"),
    }
    if ctx.tracer is None:
        return ctx.result(end_to_end, {})

    tr = ctx.tracer
    t_resolve = time.perf_counter()
    tr.finish()
    ctx.info.append(f"trace_resolve_s {time.perf_counter() - t_resolve:.3f} s")
    ops = [sp for sp in tr.spans if sp.parent_id is None and sp.name in walls]
    layers = runtime_layers(tr, clock, ops)
    embed_spans = tr.named("embed.embed_with_cache")
    hits = sum(sp.info["counters"]["cache_hits"] for sp in embed_spans)
    distinct = sum(sp.info["counters"]["distinct_texts"] for sp in embed_spans)
    in_embed = {sp.span_id for sp in embed_spans}
    outside = [
        sp for sp in tr.spans
        if sp.span_id not in in_embed and not _under(tr, sp, in_embed)
    ]
    for kind in ("cold", "noop", "dirty"):
        sp = tr.named(f"index.{kind}")[0]
        layers[f"pipeline.run.{kind}.wall_s"] = sp.incl["wall_s"]
        layers[f"pipeline.run.{kind}.jobs"] = sp.incl["jobs"]
    layers.update(
        request_layers(
            {k[len("query:"):]: tr.named(k) for k in walls if k.startswith("query:")},
            {"graphq.bfs"},
        )
    )
    layers.update(
        _stream_layers(tr, batches)
        | {
            "pipeline.run.self_s": tr.total("pipeline.run", "self_s"),
            "pipeline.kg_edges.turns_per_s": n_turns / walls["index.kg_edges"][0],
            "pipeline.alias_entity_map.wall_s": tr.total(
                "pipeline.alias_entity_map", "wall_s"
            ),
            "lineage.pending_buckets.wall_s": tr.total(
                "lineage.pending_buckets", "wall_s"
            ),
            "lineage.mark_done.wall_s": tr.total("lineage.mark_done", "wall_s"),
            # one bucket is dirtied, in each of the three stages
            "lineage.recompute_ratio": sum(dirty_pending.values()) / len(STAGES),
            "extract.python_run_s": sum(sp.own["python_run_s"] for sp in outside),
            "extract.python_start_s": sum(
                sp.own["python_start_s"] for sp in outside
            ),
            "extract.arrow_sent_mb": sum(sp.own["arrow_sent_mb"] for sp in outside),
            "embed.embed_with_cache.wall_s": tr.total(
                "embed.embed_with_cache", "wall_s"
            ),
            "embed.cache_hit_ratio": hits / distinct if distinct else 0.0,
            "embed.encoded_rows": sum(
                sp.info["counters"]["encoded_rows"] for sp in embed_spans
            ),
            "storage.merge_by_key.wall_s": tr.total("storage.merge_by_key", "wall_s"),
            "storage.merge_by_key.task_s": tr.total("storage.merge_by_key", "task_s"),
            "storage.rows_written": sum(sp.incl["rows_written"] for sp in ops),
            "storage.bytes_written_mb": sum(
                sp.incl["bytes_written_mb"] for sp in ops
            ),
            "storage.files_written": sum(sp.incl["files_written"] for sp in ops),
            "storage.rewrite_amplification": tr.named("index.dirty")[0].incl[
                "rows_written"
            ]
            / edit.rows_in_bucket,
            "stores.build_graph_artifacts.wall_s": tr.total(
                "stores.build_graph_artifacts", "wall_s"
            ),
            "stores.build_graph_artifacts.shuffle_write_mb": tr.total(
                "stores.build_graph_artifacts", "shuffle_write_mb"
            ),
            "stores.open_store.wall_s": tr.total("stores.open_store", "wall_s"),
            "process.peak_rss_mb": tree_peak_rss_mb(),
            "traced.setup_s": setup_s,
            "traced.batch_s": batch_s,
            "traced.op_geomean_ms": op_geomean_ms,
        }
    )
    for name in ("link.alias_similarity_edges", "cc.canonical_map"):
        layers[f"{name}.wall_s"] = tr.total(name, "wall_s")
        layers[f"{name}.jobs"] = tr.total(name, "jobs")
    layers["cc.connected_components.jobs"] = tr.total(
        "cc.connected_components", "jobs"
    )
    layers["cc.connected_components.shuffle_write_mb"] = tr.total(
        "cc.connected_components", "shuffle_write_mb"
    )
    tr.restore()
    layers["pipeline.run.scaling_eff"] = _scaling_eff(ctx, t1_path=v1)
    return ctx.result(end_to_end, fill_per_layer(layers))


def _collect(df) -> tuple[list[str], list]:
    return df.columns, df.collect()


def _stream_layers(tr, batches: list[dict]) -> dict[str, float]:
    """Streaming-drain layers: medians over the micro-batches that carried
    rows, from the query's progress events, and the scope-replacing commits
    of the drain."""
    def med(key):
        return statistics.median(p["durationMs"][key] for p in batches)

    return {
        "streaming.batch_ms": med("triggerExecution"),
        "streaming.add_batch_ms": med("addBatch"),
        "streaming.rows_per_batch": statistics.median(
            p["numInputRows"] for p in batches
        ),
        "storage.replace_by_scope.wall_s": tr.total(
            "storage.replace_by_scope", "wall_s"
        ),
        "storage.replace_by_scope.rows_written": tr.total(
            "storage.replace_by_scope", "rows_written"
        ),
    }


def _under(tr, sp, ids: set[int]) -> bool:
    by_id = {s.span_id: s for s in tr.spans}
    p = by_id.get(sp.parent_id)
    while p is not None:
        if p.span_id in ids:
            return True
        p = by_id.get(p.parent_id)
    return False


def _scaling_eff(ctx, t1_path: str) -> float:
    """This host's 1-vs-nproc efficiency of a warm cold build:
    T(local[1]) / (nproc x T(local[nproc])); 1.0 is linear. A diagnostic,
    not the 2-vs-8 scaling verdict of the repository's scaling campaign."""
    from grepai_spark import pipeline, synth
    from grepai_spark.session import get_spark

    def cold_build(tag: str) -> float:
        spark = ctx.spark
        t = spark.read.parquet(t1_path)
        t0 = time.perf_counter()
        pipeline.run(
            spark, t, synth.alias_dict_df(spark),
            os.path.join(ctx.work, f"scaling_{tag}"), embed=True,
        )
        return time.perf_counter() - t0

    t_n = cold_build("n")
    ctx.spark.stop()
    ctx.spark = get_spark(
        "perfbench-scaling", master="local[1]", extra_conf=ctx.session_conf
    )
    ctx.spark.sparkContext.setLogLevel("ERROR")
    t_1 = cold_build("1")
    ctx.info.append(
        f"scaling_walls_s local[1]={t_1:.3f} local[{ctx.nproc}]={t_n:.3f}"
    )
    return t_1 / (ctx.nproc * t_n)
