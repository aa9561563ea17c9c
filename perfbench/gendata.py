"""Seeded input tables for the curate_batch and stream_ingest workloads.

The tables have the schema of graft's sf test tables (`documents`,
`events`; one parquet file, one row group each) and mimic the value
distributions measured on the sf0.01 and sf0.1 tables
(results/tables.json, written by `python3 perfbench/gendata.py SF_DIR...`):

- documents: 10-99 words drawn uniformly from a 30-word vocabulary (the sf
  tables use exactly these 30 words, plus `dup`); one in twenty documents,
  at random positions, is a copy of an earlier original with a ` dup`
  suffix, so the dedup operators have near-duplicates to find; five
  languages, `en` on about 42% of documents; 20 sources;
- events: a time-ordered month of five event types from 3 users per 200
  events, with exponentially distributed values (mean 50).

It is a synthetic stand-in: the sizes and the seed are its only inputs, so
every seed gives a statistically identical workload of the same size.
"""
import datetime
import json
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.42, 0.145, 0.145, 0.145, 0.145]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
MONTH_US = 30 * 24 * 3600 * 1_000_000


def documents(rng, n):
    dups = set(rng.choice(np.arange(1, n), size=n // 20, replace=False).tolist())
    texts, originals = [], []
    for i in range(n):
        if i in dups:
            texts.append(texts[originals[int(rng.integers(0, len(originals)))]] + " dup")
        else:
            originals.append(i)
            words = rng.choice(VOCAB, size=int(rng.integers(10, 100)))
            texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, size=n, p=LANG_P).tolist()),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    })


def events(rng, n):
    start = datetime.datetime(2024, 1, 1)
    offsets = np.sort(rng.integers(0, MONTH_US, size=n))
    ts = (np.datetime64(start, "us") + offsets.astype("timedelta64[us]"))
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(1, n * 3 // 200), size=n)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, size=n).tolist()),
        "value": pa.array(np.round(rng.exponential(50.0, size=n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n)]),
    })


def write(out_dir, seed, n_docs, n_events):
    """Write documents.parquet and events.parquet for `seed` into out_dir."""
    rng = np.random.default_rng(seed)
    pq.write_table(documents(rng, n_docs), f"{out_dir}/documents.parquet")
    pq.write_table(events(rng, n_events), f"{out_dir}/events.parquet")


def profile(data_dir):
    """The distributions this module mimics, measured on the tables in
    data_dir."""
    import duckdb
    con = duckdb.connect()
    docs, ev = f"'{data_dir}/documents.parquet'", f"'{data_dir}/events.parquet'"

    def one(sql):
        return con.sql(sql).fetchone()

    words = f"(SELECT unnest(string_split(text, ' ')) w FROM {docs})"
    n, wmin, wmax, wmean, sources = one(
        f"SELECT count(*), min(len(string_split(text, ' '))), "
        f"max(len(string_split(text, ' '))), avg(len(string_split(text, ' '))), "
        f"count(DISTINCT source) FROM {docs}")
    return {
        "documents": {
            "rows": n, "words_min": wmin, "words_max": wmax, "words_mean": wmean,
            "vocabulary": one(f"SELECT count(DISTINCT w) FROM {words}")[0],
            "dup_suffix_share": one(f"SELECT avg((text LIKE '% dup')::INT) FROM {docs}")[0],
            "lang_share": dict(con.sql(
                f"SELECT lang, count(*) / {n} FROM {docs} GROUP BY 1 ORDER BY 1").fetchall()),
            "sources": sources},
        "events": dict(zip(
            ("rows", "users", "event_types", "value_mean", "first_ts", "last_ts"),
            (str(v) if isinstance(v, datetime.datetime) else v for v in one(
                f"SELECT count(*), count(DISTINCT user_id), count(DISTINCT event_type), "
                f"avg(value), min(ts), max(ts) FROM {ev}"))))}


def main(sf_dirs):
    """Print the profile of each sf directory beside that of the tables
    generated at seed 1 with the same sizes."""
    import tempfile
    out = {}
    for d in sf_dirs:
        sf = profile(d)
        with tempfile.TemporaryDirectory() as tmp:
            write(tmp, 1, sf["documents"]["rows"], sf["events"]["rows"])
            out[d.rstrip("/").rsplit("/", 1)[-1]] = {"sf": sf, "generated": profile(tmp)}
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main(sys.argv[1:])
