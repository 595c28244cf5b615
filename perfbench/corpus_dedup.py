"""corpus_dedup: one batch caller over the similarity-join / corpus family.

Closed loop, one caller. One repetition per run: one pass over the
near-duplicate pair operators (two on vectors, three on text), exact dedup,
corpus cleaning, the four text-statistics projections and drift-gated
placement, on a corpus with a fixed share of seeded near-duplicate copies —
the property the pair operators' work depends on — then one request of
each search and serving-side ANN call over the same corpus, served from
stores opened in set-up.
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np

import inputs
from common import (
    PAIR_CALLS,
    TEXTSTATS_CALLS,
    JvmClock,
    fill_per_layer,
    oracle_results,
    redirect_store_root,
    request_layers,
    runtime_layers,
    same_rows,
    summarize,
    tree_peak_rss_mb,
)

N_EVENTS = 1_500  # transcripts for dedup_exact and the drift detector
N_USERS = 30
N_DOCS = 200
N_VECS = 200
DUP_SHARE = 0.2


def run(ctx):
    from pyspark.sql import functions as F

    from grepai_spark import (
        ann,
        corpus,
        dedup,
        drift,
        embed,
        extract,
        oracles,
        search,
        stores,
        synth,
        textstats,
    )

    spark = ctx.spark
    rng = np.random.default_rng(ctx.seed)

    # ---- set-up: inputs -----------------------------------------------------
    sf = os.path.join(ctx.work, "sf")
    os.makedirs(sf)
    inputs.write_events(os.path.join(sf, "events.parquet"), N_EVENTS, N_USERS)
    n_docs = inputs.write_documents(
        os.path.join(sf, "documents.parquet"), N_DOCS, DUP_SHARE, rng
    )
    n_vecs = inputs.write_embeddings(
        os.path.join(sf, "embeddings.parquet"), N_VECS, DUP_SHARE, rng
    )
    emb = synth.read_parallel(spark, f"{sf}/embeddings.parquet")
    docs = synth.read_parallel(spark, f"{sf}/documents.parquet")
    transcripts = synth.load_transcripts(spark, sf)
    d = synth.alias_dict_df(spark)

    def drift_call():
        # old state = even turns, new = all turns (the oracle's definition)
        new = extract.detect_mentions(transcripts, d)
        old = new.where(F.col("turn_idx") % 2 == 0)
        return drift.drift_gated_placements(old, new)

    family = {
        "ann.near_dup_lsh_pairs": (lambda: ann.near_dup_lsh_pairs(emb),
                                   ann.near_dup_lsh_pairs_oracle),
        "ann.near_dup_cosine_pairs": (lambda: ann.near_dup_cosine_pairs(emb),
                                      ann.near_dup_cosine_pairs_oracle),
        "dedup.ngram_jaccard_pairs": (lambda: dedup.ngram_jaccard_pairs(docs),
                                      dedup.ngram_jaccard_pairs_oracle),
        "dedup.minhash_lsh_pairs": (lambda: dedup.minhash_lsh_pairs(docs),
                                    dedup.minhash_lsh_pairs_oracle),
        "dedup.simhash_pairs": (lambda: dedup.simhash_pairs(docs),
                                dedup.simhash_pairs_oracle),
        "dedup.dedup_exact": (
            lambda: dedup.dedup_exact(transcripts),
            lambda: dedup.dedup_exact_oracle(oracles.TRANSCRIPTS_REL),
        ),
        "corpus.corpus_clean": (lambda: corpus.corpus_clean(docs),
                                corpus.corpus_clean_oracle),
        "textstats.lang_id": (lambda: textstats.lang_id(docs),
                              textstats.lang_id_oracle),
        "textstats.text_quality": (lambda: textstats.text_quality(docs),
                                   textstats.text_quality_oracle),
        "textstats.token_counts": (lambda: textstats.token_counts(docs),
                                   textstats.token_counts_oracle),
        "textstats.doc_fingerprint": (lambda: textstats.doc_fingerprint(docs),
                                      textstats.doc_fingerprint_oracle),
        "drift.drift_gated_placements": (drift_call,
                                         oracles.drift_placements_oracle),
    }
    # serving: the stores the search requests read, opened (built) here
    redirect_store_root(lambda sf_dir: os.path.join(ctx.work, "stores"))
    ctx.install_tracer()
    store = {k: stores.open_store(spark, sf, k)
             for k in ("chunks", "lsh_store", "ivf_centroids")}
    # call -> (request, oracle SQL), each a function of the query text, its
    # vector and k
    serving = {
        "search.cosine_topk": (
            lambda q, v, k: search.cosine_topk(emb, v, k),
            lambda q, v, k: oracles.cosine_topk_oracle(v, k),
        ),
        "search.text_search": (
            lambda q, v, k: search.text_search(docs, q, k),
            lambda q, v, k: oracles.text_search_oracle(
                search.tokenize_query(q), k
            ),
        ),
        "search.hybrid_search": (
            lambda q, v, k: search.hybrid_search(store["chunks"], q, v, limit=k),
            lambda q, v, k: oracles.hybrid_search_oracle(
                v, search.tokenize_query(q), k
            ),
        ),
        "ann.ann_lsh_topk_store": (
            lambda q, v, k: ann.ann_lsh_topk_store(store["lsh_store"], v, k),
            lambda q, v, k: ann.ann_lsh_topk_oracle(v, k),
        ),
        "ann.ivf_topk": (
            lambda q, v, k: ann.ivf_topk(
                emb, v, k, centroids=store["ivf_centroids"]
            ),
            lambda q, v, k: ann.ivf_topk_oracle(v, k),
        ),
    }
    requests = inputs.search_requests(rng, list(serving))
    clock = JvmClock(spark)
    setup_s = time.perf_counter() - ctx.t_start

    # ---- timed: one pass over the family, then the requests ----------------
    walls: dict[str, list[float]] = {}
    out = {}
    for name, (call, _) in family.items():
        with ctx.op(f"family:{name}") as rec:
            df = call()
            rows = df.collect()
        out[name] = (df.columns, rows)
        walls[f"family:{name}"] = [rec["wall_s"]]
    served = []
    for call, p in requests:
        with ctx.op(f"query:{call}") as rec:
            q, k = p["query"], p["k"]
            df = serving[call][0](q, embed.py_encode(q), k)
            rows = df.collect()
        served.append((df.columns, rows))
        walls.setdefault(f"query:{call}", []).append(rec["wall_s"])

    # ---- output checks ------------------------------------------------------
    t_checks = time.perf_counter()
    expected = oracle_results(
        sf,
        ["events", "documents", "embeddings"],
        [sql() for _, sql in family.values()]
        + [
            serving[call][1](p["query"], embed.py_encode(p["query"]), p["k"])
            for call, p in requests
        ],
    )
    for name, want in zip(family, expected):
        cols, rows = out[name]
        ok, why = same_rows(cols, rows, *want)
        op = f"family:{name}"
        ctx.check(op, ok, why)
        ctx.check(op, name not in PAIR_CALLS or len(rows) > 0,
                  "no near-duplicate pairs found")
    for (call, p), (cols, rows), want in zip(
        requests, served, expected[len(family):]
    ):
        ok, why = same_rows(cols, rows, *want)
        ctx.check(f"query:{call}", ok, f"{p}: {why}")
    checks_s = time.perf_counter() - t_checks

    batch_s, op_geomean_ms = summarize(walls)
    family_s = sum(w[0] for k, w in walls.items() if k.startswith("family:"))
    ctx.info += [
        f"dedup_docs_per_s {(n_docs + n_vecs) / family_s:.1f} docs/s",
        "op_walls_s " + " ".join(
            f"{k}={statistics.median(w):.3f}" for k, w in walls.items()
        ),
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
    fam = {sp.name.split(":", 1)[1]: sp for sp in ops if sp.name.startswith("family:")}
    layers = runtime_layers(tr, clock, ops)
    for name in PAIR_CALLS:
        sp = fam[name]
        cand = sp.incl["join_rows_max"]
        layers.update(
            {
                f"{name}.wall_s": sp.wall_s,
                f"{name}.shuffle_write_mb": sp.incl["shuffle_write_mb"],
                f"{name}.task_skew": sp.incl["task_skew"],
                f"{name}.verify_yield": len(out[name][1]) / cand if cand else 0.0,
            }
        )
    for name in ("dedup.dedup_exact", "corpus.corpus_clean",
                 "drift.drift_gated_placements"):
        layers[f"{name}.wall_s"] = fam[name].wall_s
    requests_by_call = {}
    for sp in ops:
        if sp.name.startswith("query:"):
            requests_by_call.setdefault(sp.name[len("query:"):], []).append(sp)
    layers.update(
        request_layers(
            requests_by_call,
            {"search.cosine_topk", "search.text_search", "search.hybrid_search"},
        )
    )
    lsh_reads = requests_by_call["ann.ann_lsh_topk_store"]
    lsh_files = sum(
        f.endswith(".parquet")
        for _, _, fs in os.walk(os.path.join(ctx.work, "stores", "lsh_store"))
        for f in fs
    )
    layers.update(
        {
            "ann.lsh_files_read_ratio": statistics.median(
                sp.incl["files_read"] for sp in lsh_reads
            ) / lsh_files,
            "stores.open_store.wall_s": tr.total("stores.open_store", "wall_s"),
            "textstats.wall_s": sum(fam[n].wall_s for n in TEXTSTATS_CALLS),
            "extract.python_run_s": sum(sp.incl["python_run_s"] for sp in ops),
            "extract.python_start_s": sum(sp.incl["python_start_s"] for sp in ops),
            "extract.arrow_sent_mb": sum(sp.incl["arrow_sent_mb"] for sp in ops),
            "cc.connected_components.jobs": tr.total(
                "cc.connected_components", "jobs"
            ),
            "cc.connected_components.shuffle_write_mb": tr.total(
                "cc.connected_components", "shuffle_write_mb"
            ),
            "process.peak_rss_mb": tree_peak_rss_mb(),
            "traced.setup_s": setup_s,
            "traced.batch_s": batch_s,
            "traced.op_geomean_ms": op_geomean_ms,
        }
    )
    tr.restore()
    return ctx.result(end_to_end, fill_per_layer(layers))
