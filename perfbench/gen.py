"""Seeded input generator for the benchmark workloads.

Writes an sf-dir (the layout `SparkEntry.queries(name)(spark, dir)`
reads) whose tables keep the fixture schema and the id and time ranges
the declared queries and their DuckDB oracles assume:

- events: Jan 2024 UTC, microsecond timestamps, the five event types,
  user ids 0..users-1 (so click_7, purchase_41, signup_78 and host_78
  exist), exponential values rounded to 2 decimals, no NaN;
- documents: doc ids 0..n-1 (the 300/370/400/440 cuts all fall inside),
  30-word vocabulary, five languages, 20 sources, planted exact and
  " dup"-suffixed near-duplicates of earlier documents;
- embeddings: 64-dim unit float32 vectors around 10 labelled centres
  (vec ids 0..n-1 cover the ANN query ids up to 485).

The same seed gives byte-identical files; another seed gives other ones.
"""
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

T0_US = 1704067200 * 1_000_000            # 2024-01-01T00:00:00Z
SPAN_US = 30 * 86400 * 1_000_000          # the fixture window ends Jan 30
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]


def _rng(seed, table):
    # one independent stream per (seed, table): adding a table never
    # shifts another table's draws
    h = hashlib.sha256(f"{seed}:{table}".encode()).digest()
    return np.random.default_rng(int.from_bytes(h[:8], "little"))


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def events_table(seed, rows, users):
    r = _rng(seed, "events")
    ts = np.sort(r.integers(0, SPAN_US, rows)) + T0_US
    return pa.table({
        "event_id": pa.array(np.arange(rows, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, users, rows, dtype=np.int64)),
        "event_type": pa.array(np.array(EVENT_TYPES)[r.integers(0, 5, rows)]),
        "value": pa.array(np.round(r.exponential(50.0, rows), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, rows)]),
    })


def documents_table(seed, rows):
    r = _rng(seed, "documents")
    texts = []
    for i in range(rows):
        u = r.random()
        if i > 0 and u < 0.01:          # exact copy of an earlier doc
            texts.append(texts[int(r.integers(0, i))])
        elif i > 0 and u < 0.06:        # near-duplicate: jaccard >= 8/9
            texts.append(texts[int(r.integers(0, i))] + " dup")
        else:
            n = int(r.integers(10, 101))
            texts.append(" ".join(np.array(VOCAB)[r.integers(0, len(VOCAB), n)]))
    return pa.table({
        "doc_id": pa.array(np.arange(rows, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[r.choice(len(LANGS), rows, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(rows)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def embeddings_table(seed, rows, dim=64, labels=10):
    r = _rng(seed, "embeddings")
    centres = r.normal(0.0, 1.0, (labels, dim))
    label = r.integers(0, labels, rows)
    v = centres[label] + r.normal(0.0, 1.5, (rows, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(rows, dtype=np.int64)),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32)),
    })


def generate(shapes, seed, out_dir, nproc):
    """Write the tables of `shapes` ({table: shape}, see workloads.py)
    under `out_dir`; return per-table {rows, files, bytes}. A shape's
    `files` > 1 (or "nproc") writes the table as a directory of that many
    time-ordered part files, a multi-split scan layout."""
    os.makedirs(out_dir, exist_ok=True)
    stats = {}
    for name, shape in shapes.items():
        if name == "events":
            t = events_table(seed, shape["rows"], shape["users"])
        elif name == "documents":
            t = documents_table(seed, shape["rows"])
        else:
            t = embeddings_table(seed, shape["rows"])
        files = shape.get("files", 1)
        files = nproc if files == "nproc" else files
        path = os.path.join(out_dir, f"{name}.parquet")
        if files == 1:
            _write(t, path)
            paths = [path]
        else:
            os.makedirs(path, exist_ok=True)
            cuts = np.linspace(0, t.num_rows, files + 1).astype(int)
            paths = []
            for k in range(files):
                p = os.path.join(path, f"part-{k:05d}.parquet")
                _write(t.slice(cuts[k], cuts[k + 1] - cuts[k]), p)
                paths.append(p)
        stats[name] = {"rows": t.num_rows, "files": len(paths),
                       "bytes": sum(os.path.getsize(p) for p in paths)}
    return stats


def table_glob(sf_dir, name):
    """DuckDB path for a generated table (single file or part-file dir)."""
    p = os.path.join(sf_dir, f"{name}.parquet")
    return os.path.join(p, "*.parquet") if os.path.isdir(p) else p
