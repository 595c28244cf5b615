"""Shared pieces of the benchmark workloads: run context, output checks,
the layer wrappers of a traced run and the per-layer metric table."""

from __future__ import annotations

import math
import os
import statistics
import time
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager
from dataclasses import dataclass, field

from spans import Tracer

# residues for the order-insensitive table digest (the same two-prime
# discipline as lineage.bucket_content_hashes, overflow-free in ANSI mode)
_P1, _P2 = 1_000_000_007, 998_244_353

EDGE_COLS = ["subj", "pred", "obj", "conv_id", "turn_idx", "weight"]


@dataclass
class Result:
    end_to_end: dict[str, tuple[float, str]]
    per_layer: dict[str, tuple[float, str]]
    attempted: int
    failures: dict[str, str]
    info: list[str]


@dataclass
class Context:
    spark: object
    seed: int
    work: str
    nproc: int
    t_start: float
    traced: bool
    session_conf: dict[str, str]
    tracer: Tracer | None = None
    attempted: int = 0
    failures: dict[str, str] = field(default_factory=dict)
    info: list[str] = field(default_factory=list)

    def install_tracer(self) -> None:
        if self.traced:
            self.tracer = Tracer(self.spark)
            install_layers(self.tracer)

    @contextmanager
    def op(self, name: str):
        """One operation: counted as attempted, timed, and traced as the
        root span of its own trace when tracing is on. Yields a dict that
        receives ``wall_s`` when the block ends."""
        self.attempted += 1
        rec: dict = {}
        span = self.tracer.span(name) if self.tracer else None
        t0 = time.perf_counter()
        if span is None:
            yield rec
        else:
            with span:
                yield rec
        rec["wall_s"] = time.perf_counter() - t0

    def check(self, op: str, ok: bool, why: str) -> None:
        if not ok and op not in self.failures:
            self.failures[op] = why

    def result(self, end_to_end, per_layer) -> Result:
        return Result(
            end_to_end=end_to_end,
            per_layer=per_layer,
            attempted=self.attempted,
            failures=self.failures,
            info=self.info,
        )


def table_digest(df, cols: list[str]) -> tuple:
    """(rows, h1, h2): an order-insensitive multiset digest of `cols`."""
    from pyspark.sql import functions as F

    h = F.xxhash64(*cols)
    r = df.agg(
        F.count("*"), F.sum(h % F.lit(_P1)), F.sum(h % F.lit(_P2))
    ).first()
    return tuple(r)


def oracle_results(sf_dir: str, tables: list[str], sqls: list[str]) -> list:
    """(cursor description, rows) of each DuckDB oracle query over the
    generated ``<table>.parquet`` files of `sf_dir`, registered under the
    names the oracle SQL expects. The queries run concurrently: they are
    independent, and several are single-threaded recursive CTEs."""
    import duckdb

    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    def query(sql: str):
        cur = con.cursor()
        try:
            cur.execute(sql)
            return cur.description, cur.fetchall()
        finally:
            cur.close()

    try:
        with ThreadPoolExecutor(max_workers=4) as pool:
            return list(pool.map(query, sqls))
    finally:
        con.close()


def same_rows(spark_cols, spark_rows, description, duck_rows) -> tuple[bool, str]:
    """Compare collected Spark rows with a DuckDB result (cursor
    description and rows) by the repository oracle gate's rule."""
    from check_oracles import normalize

    duck_cols = [d[0] for d in description]
    if sorted(spark_cols) != sorted(duck_cols):
        return False, f"columns {spark_cols} != oracle {duck_cols}"
    if len(spark_rows) != len(duck_rows):
        return False, f"{len(spark_rows)} rows != oracle {len(duck_rows)}"
    a = normalize([tuple(r) for r in spark_rows], spark_cols)
    b = normalize(duck_rows, duck_cols)
    if a != b:
        diff = next((x, y) for x, y in zip(a, b) if x != y)
        return False, f"row mismatch, first: {diff[0]} != oracle {diff[1]}"
    return True, ""


def summarize(walls: dict[str, list[float]]) -> tuple[float, float]:
    """(batch_s, op_geomean_ms) of one repetition, from the walls of its
    operations grouped by kind: the sum of every wall, and the geometric
    mean over kinds of each kind's median wall — every kind weighs the
    same, so a 2x slower no-op rerun moves it as much as a 2x slower cold
    build."""
    batch_s = sum(sum(w) for w in walls.values())
    logs = [math.log(statistics.median(w)) for w in walls.values()]
    return batch_s, math.exp(sum(logs) / len(logs)) * 1e3


def redirect_store_root(root_for) -> None:
    """Point ``stores.store_root`` (a directory under /tmp named after the
    application id) at ``root_for(sf_dir)``, so the stores a run opens live
    in its work directory and are removed with it."""
    from grepai_spark import stores

    stores.store_root = lambda spark, sf_dir: root_for(sf_dir)


def tree_peak_rss_mb() -> float:
    """Sum of VmHWM over this process and all its descendants (driver JVM,
    Python workers)."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        parent[int(d)] = int(stat.rsplit(")", 1)[1].split()[1])
    tree, frontier = {os.getpid()}, [os.getpid()]
    while frontier:
        p = frontier.pop()
        for c, pp in parent.items():
            if pp == p and c not in tree:
                tree.add(c)
                frontier.append(c)
    total_kb = 0
    for p in tree:
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024


class JvmClock:
    """JIT-compile and GC milliseconds of the driver JVM, as deltas."""

    def __init__(self, spark):
        self._mx = spark.sparkContext._jvm.java.lang.management.ManagementFactory
        self.start = self.read()

    def read(self) -> tuple[float, float]:
        jit = self._mx.getCompilationMXBean().getTotalCompilationTime()
        gc = sum(b.getCollectionTime() for b in self._mx.getGarbageCollectorMXBeans())
        return float(jit), float(gc)

    def delta(self) -> tuple[float, float]:
        jit, gc = self.read()
        return jit - self.start[0], gc - self.start[1]


# ---------------------------------------------------------------------------
# traced layers: (module, attribute, span name). A name bound with
# `from ... import` is wrapped where callers look it up, so
# corpus.connected_components and corpus.minhash_lsh_pairs are wrapped beside
# cc.connected_components and dedup.minhash_lsh_pairs.
# ---------------------------------------------------------------------------
def install_layers(tracer: Tracer) -> None:
    from grepai_spark import (
        ann,
        cc,
        corpus,
        dedup,
        drift,
        embed,
        extract,
        graphq,
        lineage,
        link,
        pipeline,
        search,
        stores,
        streaming,
        textstats,
    )
    from grepai_spark.storage import Catalog

    layers = [
        (pipeline, "run", "pipeline.run"),
        (pipeline, "alias_entity_map", "pipeline.alias_entity_map"),
        (pipeline, "kg_edges_df", "pipeline.kg_edges_df"),
        (lineage, "pending_buckets", "lineage.pending_buckets"),
        (lineage, "mark_done", "lineage.mark_done"),
        (extract, "detect_mentions", "extract.detect_mentions"),
        (extract, "call_triples", "extract.call_triples"),
        (extract, "make_edge_detector", "extract.make_edge_detector"),
        (embed, "embed_with_cache", "embed.embed_with_cache"),
        (link, "alias_similarity_edges", "link.alias_similarity_edges"),
        (link, "link_mentions_exact", "link.link_mentions_exact"),
        (cc, "canonical_map", "cc.canonical_map"),
        (cc, "connected_components", "cc.connected_components"),
        (corpus, "connected_components", "cc.connected_components"),
        (corpus, "minhash_lsh_pairs", "dedup.minhash_lsh_pairs"),
        (Catalog, "merge_by_key", "storage.merge_by_key"),
        (Catalog, "replace_by_scope", "storage.replace_by_scope"),
        (Catalog, "overwrite", "storage.overwrite"),
        (Catalog, "append", "storage.append"),
        (stores, "build_graph_artifacts", "stores.build_graph_artifacts"),
        (stores, "open_store", "stores.open_store"),
        (streaming, "incremental_kg_edges", "streaming.incremental_kg_edges"),
    ]
    # the family and request functions are wrapped too, so a call made
    # inside another (hybrid_search's cosine_topk) gets its own span
    for mod, names in (
        (ann, ["near_dup_lsh_pairs", "near_dup_cosine_pairs",
               "ann_lsh_topk_store", "ivf_topk"]),
        (dedup, ["ngram_jaccard_pairs", "minhash_lsh_pairs", "simhash_pairs",
                 "dedup_exact"]),
        (corpus, ["corpus_clean"]),
        (textstats, ["lang_id", "text_quality", "token_counts",
                     "doc_fingerprint"]),
        (drift, ["drift_gated_placements"]),
        (search, ["cosine_topk", "text_search", "hybrid_search"]),
        (graphq, ["callers", "callees", "bfs", "search_nodes", "fetch_node"]),
    ):
        short = mod.__name__.rsplit(".", 1)[1]
        layers += [(mod, n, f"{short}.{n}") for n in names]
    # embed_with_cache returns (DataFrame, counters): keep the counters
    captures = {"embed.embed_with_cache": lambda res: {"counters": dict(res[1])}}
    for owner, attr, name in layers:
        tracer.wrap(owner, attr, name, captures.get(name))


# calls of the corpus family, by the public function each one drives
PAIR_CALLS = [
    "ann.near_dup_lsh_pairs",
    "ann.near_dup_cosine_pairs",
    "dedup.ngram_jaccard_pairs",
    "dedup.minhash_lsh_pairs",
    "dedup.simhash_pairs",
]
TEXTSTATS_CALLS = [
    "textstats.lang_id",
    "textstats.text_quality",
    "textstats.token_counts",
    "textstats.doc_fingerprint",
]


def fill_per_layer(values: dict[str, float]) -> dict[str, tuple[float, str]]:
    """Every per-layer metric BENCHMARK.json lists, with its unit; a layer
    the workload does not call reports 0 (its prediction on that workload
    is 'no move')."""
    import json

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        per_layer = json.load(f)["per_layer"]
    unknown = set(values) - {m["name"] for m in per_layer}
    if unknown:
        raise ValueError(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
    return {
        m["name"]: (float(values.get(m["name"], 0.0)), m["unit"])
        for m in per_layer
    }


def request_layers(ops: dict[str, list], jobs_of: set[str]) -> dict[str, float]:
    """``<call>.ms``, the median wall of the request operations that drive
    each serving call, and ``<call>.jobs`` (median Spark jobs of a request)
    for the calls in `jobs_of`."""
    out = {}
    for call, spans in ops.items():
        out[f"{call}.ms"] = statistics.median(sp.wall_s for sp in spans) * 1e3
        if call in jobs_of:
            out[f"{call}.jobs"] = statistics.median(
                sp.incl["jobs"] for sp in spans
            )
    return out


def runtime_layers(tracer: Tracer, clock: JvmClock, ops: list) -> dict[str, float]:
    """Runtime totals over the timed operations' spans, plus JVM deltas
    since the timed region began."""
    jit, gc = clock.delta()
    return {
        "jvm.jit_ms": jit,
        "jvm.gc_ms": gc,
        "spark.jobs": sum(sp.incl["jobs"] for sp in ops),
        "spark.task_s": sum(sp.incl["task_s"] for sp in ops),
        "spark.python_start_s": sum(sp.incl["python_start_s"] for sp in ops),
    }
