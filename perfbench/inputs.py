"""Seeded inputs for the benchmark workloads.

Everything the program under test reads is generated here, into the run's
work directory, from two sources of randomness:

* a fixed base seed for corpus *content* (events, documents, vectors), so
  every run indexes a corpus of the same size and shape — the sf test
  fixtures live outside the repository, so the generator reproduces their
  schema and distributions instead;
* the run's ``--seed`` for everything a run varies: row order and file
  layout of the input table, which conversations an edit dirties and the
  edit text, and which near-duplicate copies the corpus carries.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from grepai_spark import synth

BASE_SEED = 42
EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]
# the documents fixture draws words from this vocabulary (search, dedup and
# text-stats operators all tokenize it)
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast the row "
    "agg key query a scan batch"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
DIM = 64
N_CLUSTERS = 10
N_BUCKETS = 16  # pipeline.run's default lineage bucket count
# alias-dictionary surface forms an edit appends, so edited turns really
# produce different mention/does edges
EDIT_FORMS = [a for a, _, kind in synth.ALIAS_ROWS if kind != "tool"]


def write_events(path: str, n_events: int, n_users: int) -> None:
    """The ``events`` fixture's shape: (event_id, ts, user_id,
    event_type, value, props), ts non-decreasing in event_id."""
    rng = np.random.default_rng(BASE_SEED)
    secs = np.sort(rng.uniform(0, 30 * 86400, n_events))
    ts = np.datetime64("2024-01-01T00:00:00", "us") + (secs * 1e6).astype(
        "timedelta64[us]"
    )
    table = pa.table(
        {
            "event_id": pa.array(np.arange(n_events), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n_events), pa.int64()),
            "event_type": pa.array(rng.choice(EVENT_TYPES, n_events)),
            "value": pa.array(np.round(rng.exponential(50.0, n_events), 2)),
            "props": pa.array(
                [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]
            ),
        }
    )
    pq.write_table(table, path)


def transcripts_table(sf_dir: str) -> pa.Table:
    """transcripts(conv_id, turn_idx, role, text, tool, ts) derived from the
    events parquet with the program's own synthesis SQL (DuckDB dialect,
    row-identical to the Spark derivation)."""
    con = duckdb.connect()
    try:
        t = con.execute(synth.transcripts_duckdb_sql(sf_dir)).arrow()
    finally:
        con.close()
    return t.cast(
        pa.schema(
            [
                ("conv_id", pa.string()),
                ("turn_idx", pa.int32()),
                ("role", pa.string()),
                ("text", pa.string()),
                ("tool", pa.string()),
                ("ts", pa.timestamp("us")),
            ]
        )
    )


def write_layout(table: pa.Table, path: str, rng: np.random.Generator) -> None:
    """Write `table` as a parquet directory with a seeded row order and a
    seeded file count (2-6 files)."""
    os.makedirs(path, exist_ok=True)
    order = rng.permutation(table.num_rows)
    shuffled = table.take(pa.array(order))
    n_files = int(rng.integers(2, 7))
    bounds = np.linspace(0, table.num_rows, n_files + 1).astype(int)
    for i in range(n_files):
        part = shuffled.slice(bounds[i], bounds[i + 1] - bounds[i])
        pq.write_table(part, os.path.join(path, f"part-{i:03d}.parquet"))


@dataclass
class Edit:
    """A one-bucket content change: every turn of `conv_ids` gets an alias
    surface form appended. All of `conv_ids` share lineage bucket
    `bucket`."""

    bucket: int
    conv_ids: list[str]
    rows_in_bucket: int


def choose_edit(
    conv_bucket: dict[str, int],
    turns_per_conv: dict[str, int],
    rng: np.random.Generator,
    n_convs: int = 3,
) -> Edit:
    """Pick one lineage bucket (never the mega-thread's, whose size would
    make the dirty refresh a different workload from seed to seed) and up
    to `n_convs` of its conversations."""
    mega = conv_bucket["conv-mega"]
    by_bucket: dict[int, list[str]] = {}
    for c, b in sorted(conv_bucket.items()):
        if b != mega:
            by_bucket.setdefault(b, []).append(c)
    buckets = sorted(by_bucket)
    bucket = buckets[int(rng.integers(len(buckets)))]
    convs = by_bucket[bucket]
    pick = sorted(
        convs[i]
        for i in rng.choice(len(convs), min(n_convs, len(convs)), replace=False)
    )
    rows = sum(turns_per_conv[c] for c in by_bucket[bucket])
    return Edit(bucket=bucket, conv_ids=pick, rows_in_bucket=rows)


def apply_edit(table: pa.Table, edit: Edit, rng: np.random.Generator) -> pa.Table:
    conv = table.column("conv_id").to_pylist()
    text = table.column("text").to_pylist()
    hit = set(edit.conv_ids)
    forms = rng.choice(EDIT_FORMS, len(text))
    new_text = [
        f"{t} then {f}" if c in hit else t for c, t, f in zip(conv, text, forms)
    ]
    i = table.schema.get_field_index("text")
    return table.set_column(i, "text", pa.array(new_text, pa.string()))


def write_documents(
    path: str, n_base: int, dup_share: float, rng: np.random.Generator
) -> int:
    """documents(doc_id, text, lang, source, n_chars): `n_base` fixed
    documents plus a `dup_share` of seeded near-duplicate copies (one or
    two words changed). Returns the row count."""
    base = np.random.default_rng(BASE_SEED + 1)
    texts = [
        " ".join(base.choice(VOCAB, int(base.integers(8, 90))))
        for _ in range(n_base)
    ]
    n_dup = int(round(n_base * dup_share))
    for src in rng.choice(n_base, n_dup, replace=True):
        words = texts[src].split()
        for j in rng.choice(len(words), min(2, len(words)), replace=False):
            words[j] = str(rng.choice(VOCAB))
        texts.append(" ".join(words))
    n = len(texts)
    langs = base.choice(LANGS, n_base, p=LANG_P).tolist()
    langs += [langs[i % n_base] for i in range(n_dup)]
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(np.arange(n), pa.int64()),
                "text": pa.array(texts),
                "lang": pa.array(langs),
                "source": pa.array([f"src{i % 20}" for i in range(n)]),
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        ),
        path,
    )
    return n


def write_embeddings(
    path: str, n_base: int, dup_share: float, rng: np.random.Generator
) -> int:
    """embeddings(vec_id, embedding float[64], label): unit vectors around
    N_CLUSTERS centres (label = centre, the IVF cell column) plus a
    `dup_share` of seeded near-duplicate copies. Returns the row count."""
    base = np.random.default_rng(BASE_SEED + 2)
    centres = base.normal(size=(N_CLUSTERS, DIM))
    labels = base.integers(0, N_CLUSTERS, n_base)
    vecs = centres[labels] + base.normal(scale=1.5, size=(n_base, DIM))
    n_dup = int(round(n_base * dup_share))
    src = rng.choice(n_base, n_dup, replace=True)
    vecs = np.vstack(
        [vecs, vecs[src] + rng.normal(scale=0.05, size=(n_dup, DIM))]
    )
    labels = np.concatenate([labels, labels[src]])
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(
        np.float32
    )
    n = len(vecs)
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(np.arange(n), pa.int64()),
                "embedding": pa.ListArray.from_arrays(
                    pa.array(np.arange(0, n * DIM + 1, DIM), pa.int32()),
                    pa.array(vecs.ravel(), pa.float32()),
                ),
                "label": pa.array(labels, pa.int32()),
            }
        ),
        path,
    )
    return n


def graph_requests(
    rng: np.random.Generator,
    tools: list[str],
    roles: list[str],
    entity_ids: list[str],
) -> list[tuple[str, dict]]:
    """One request of each graph-query call, in a fixed order, with seeded
    parameters: a tool for ``callers``, a role for ``callees``, vertices
    for ``bfs`` and ``fetch_node``, and two alias words for
    ``search_nodes``."""
    words = sorted(
        {w for a, _, _ in synth.ALIAS_ROWS if "_" in a for w in a.split("_")}
    )

    def pick(xs):
        return str(xs[int(rng.integers(len(xs)))])

    return [
        ("graphq.callers", {"name": pick(tools)}),
        ("graphq.callees", {"name": pick(roles)}),
        ("graphq.bfs", {"seed": pick(entity_ids)}),
        ("graphq.search_nodes", {"query": f"{pick(words)} {pick(words)}"}),
        ("graphq.fetch_node", {"entity_id": pick(entity_ids)}),
    ]


def search_requests(
    rng: np.random.Generator, calls: list[str]
) -> list[tuple[str, dict]]:
    """One request per call in `calls`, in that order; each draws three
    words from the documents' vocabulary as its query text and k from
    {10, 20}."""
    out = []
    for call in calls:
        query = " ".join(str(w) for w in rng.choice(VOCAB, 3, replace=False))
        out.append((call, {"query": query, "k": int(rng.choice([10, 20]))}))
    return out


def write_stream_source(
    base: pa.Table, edited: pa.Table, convs: list[str], edit: Edit, path: str
) -> tuple[int, int]:
    """The watched directory of a streaming drain: the turns of `convs` as
    four files, then the edited conversations' turns again, with their new
    text and a one-second-later stamp, as a fifth file. Modification times
    increase file by file, so with the stream's four files per trigger the
    redelivered, modified turns form the second micro-batch. Returns the row
    counts of the two batches."""
    import time

    import pyarrow.compute as pc

    os.makedirs(path)
    first = base.filter(pc.is_in(base.column("conv_id"), pa.array(convs)))
    redo = edited.filter(
        pc.is_in(edited.column("conv_id"), pa.array(edit.conv_ids))
    )
    i = redo.schema.get_field_index("ts")
    redo = redo.set_column(
        i, "ts", pc.add(redo.column("ts"), pa.scalar(1_000_000, pa.duration("us")))
    )
    bounds = np.linspace(0, first.num_rows, 5).astype(int)
    parts = [first.slice(bounds[j], bounds[j + 1] - bounds[j]) for j in range(4)]
    now = time.time()
    for j, part in enumerate(parts + [redo]):
        f = os.path.join(path, f"part-{j:03d}.parquet")
        pq.write_table(part, f)
        os.utime(f, (now - 10 + j, now - 10 + j))
    return first.num_rows, redo.num_rows
