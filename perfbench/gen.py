"""Seeded input generator for the benchmark.

A run's files derive from its seed (nhl_raw's also from the pool of
documents made once per build): the same seed gives the same files.
Nothing is read from outside the paths given.

  nhl_orders(dst, ...)  orders + lineitem shaped as a hockey schedule (one
                        order per game) in equal-volume blocks, the input
                        graft.nhl.Synthetic derives its bronze documents from
  nhl_raw(dst, ...)     the raw key tree of one block of those documents
  corpus(dst, ...)      id-offset, jittered copies of a seeded documents /
                        embeddings base, in the query library's schema
  probes(dst_file, ...) seeded query batches near corpus vectors
"""
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
VOCAB = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.15, 0.14, 0.14, 0.13]
DIM = 64
KEY_OFFSET = 10_000_000      # id offset between corpus copies
JITTER_EPS = 0.2             # per-dim jitter of embedding copies (twin cosine ~0.85-0.93)
PROBE_ID_BASE = 900_000_000  # probe ids never collide with corpus ids

TS_US = pa.timestamp("us")
ORDERS_SCHEMA = pa.schema([
    ("o_orderkey", pa.int64()), ("o_custkey", pa.int64()), ("o_orderstatus", pa.string()),
    ("o_totalprice", pa.float64()), ("o_orderdate", TS_US), ("o_orderpriority", pa.string())])
LINEITEM_SCHEMA = pa.schema([
    ("l_orderkey", pa.int64()), ("l_partkey", pa.int64()), ("l_suppkey", pa.int64()),
    ("l_linenumber", pa.int32()), ("l_quantity", pa.float64()),
    ("l_extendedprice", pa.float64()), ("l_discount", pa.float64()), ("l_tax", pa.float64()),
    ("l_returnflag", pa.string()), ("l_linestatus", pa.string()), ("l_shipdate", TS_US)])
DOCS_SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
                         ("source", pa.string()), ("n_chars", pa.int64())])
EMB_SCHEMA = pa.schema([("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())),
                        ("label", pa.int32())])


def _cents(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(start, offsets):
    """Midnight timestamps `start` + offsets days."""
    return np.datetime64(start.isoformat(), "us") + \
        np.asarray(offsets).astype("timedelta64[D]").astype("timedelta64[us]")


def nhl_orders(dst, blocks, start, days, lines_per_game, last_day_games):
    """One order per game over `blocks` consecutive blocks of `days` days
    from `start`: 5-15 games a day with one day in ten busy (16-20 games).
    Block b is scheduled from seed b: every block holds the same multiset of
    daily game counts (in its own order) and `last_day_games` on its last
    day, so blocks differ in values and order, not in volume. Lineitems are
    the game's player rows; a player (l_partkey) appears at most once in a
    game. Returns each block's [first, last) order key."""
    os.makedirs(dst, exist_ok=True)
    fixed = np.random.default_rng(0)
    counts = np.where(fixed.random(days - 1) < 0.1, fixed.integers(16, 21, days - 1),
                      fixed.integers(5, 16, days - 1))
    per_day = np.concatenate([np.append(np.random.default_rng(b).permutation(counts),
                                        last_day_games) for b in range(blocks)])
    bounds = np.concatenate([[0], np.cumsum(per_day.reshape(blocks, days).sum(axis=1))])
    days *= blocks
    rng = np.random.default_rng(blocks)
    n = int(per_day.sum())
    n_cust, n_supp, n_part = 600, 100, 2000
    pq.write_table(pa.table({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n).astype(np.int64),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n)],
        "o_totalprice": _cents(rng, 1000.0, 500000.0, n),
        "o_orderdate": _days(start, np.repeat(np.arange(days), per_day)),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n)]},
        schema=ORDERS_SCHEMA), os.path.join(dst, "orders.parquet"))
    lines = np.repeat(np.arange(n),
                      rng.integers(lines_per_game // 2, lines_per_game * 3 // 2 + 1, n))
    parts = np.concatenate([rng.choice(n_part, c, replace=False)
                            for c in np.bincount(lines, minlength=n)])
    m = len(lines)
    pq.write_table(pa.table({
        "l_orderkey": lines.astype(np.int64),
        "l_partkey": parts.astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, m).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, m).astype(np.int32),
        "l_quantity": rng.integers(1, 51, m).astype(np.float64),
        "l_extendedprice": _cents(rng, 901.0, 104999.0, m),
        "l_discount": np.round(rng.uniform(0.0, 0.1, m), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, m), 2),
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, m)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, m)],
        "l_shipdate": _days(start, rng.integers(0, days + 1, m))},
        schema=LINEITEM_SCHEMA), os.path.join(dst, "lineitem.parquet"))
    return [(int(lo), int(hi)) for lo, hi in zip(bounds[:-1], bounds[1:])]


def nhl_raw(dst, pool, keys, seed):
    """The raw key tree of one block of the pool of serialized documents
    (JSON lines of dataset, json, date, game_id): one document per file
    under the reference's Hive-style keys, written in a seeded order with
    seeded hour keys (stale LIVE boxscore snapshots land the day before
    their final ones). Writes `docs.jsonl` next to it: dataset, json, file
    URI and key date of every document, in file order."""
    with open(pool) as fh:
        docs = [d for d in map(json.loads, fh) if keys[0] <= d["game_id"] < keys[1]]
    last = max(d["date"] for d in docs if d["ds"] == "odds")
    docs = sorted((d for d in docs if d["date"] <= last),
                  key=lambda d: (d["ds"], d["json"], d["date"], d["game_id"]))
    rng = np.random.default_rng(seed)
    hours = rng.integers(0, 24, len(docs))
    os.makedirs(dst, exist_ok=True)
    with open(os.path.join(dst, "docs.jsonl"), "w") as index:
        for i in rng.permutation(len(docs)):
            d, hour = docs[i], f"{hours[i]:02d}"
            key, game = f"date={d['date']}/hour={hour}", d["game_id"]
            if d["ds"] == "boxscore":
                snap = 0 if '"gameState":"LIVE"' in d["json"] else 1
                rel = f"raw/nhl/game_boxscore/{key}/game_id={game}/snapshot_{snap}.json"
            elif d["ds"] == "pbp":
                rel = f"raw/nhl/game_pbp/{key}/game_id={game}/snapshot_1.json"
            else:
                rel = f"raw/odds/player_props/{key}/event_{game}.json"
            path = os.path.join(dst, rel)
            os.makedirs(os.path.dirname(path), exist_ok=True)
            with open(path, "w") as fh:
                fh.write(d["json"])
            index.write(json.dumps({"ds": d["ds"], "json": d["json"], "date": d["date"],
                                    "uri": "file://" + os.path.abspath(path)}) + "\n")


def _doc_texts(rng, n):
    """Random-word documents of 10-99 words; one in twenty is an earlier
    document plus ' dup' tails. Every seed uses the same multiset of
    document lengths and the same number of near-duplicates, so seeds
    differ in words and order, not in volume."""
    lengths = rng.permutation(np.arange(n) % 90 + 10)
    dups = set((rng.permutation(n - 11)[:n // 20] + 11).tolist())
    texts = []
    for i in range(n):
        if i in dups:
            texts.append(texts[rng.integers(0, i)] + " dup" * int(rng.integers(1, 3)))
        else:
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), lengths[i])))
    return texts


def _embeddings(rng, n):
    """Unit vectors loosely clustered around ten labelled centres."""
    labels = rng.integers(0, 10, n).astype(np.int32)
    centers = rng.normal(size=(10, DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    v = rng.normal(size=(n, DIM)) / np.sqrt(DIM) + 0.14 * centers[labels]
    return v / np.linalg.norm(v, axis=1, keepdims=True), labels


def _emb_array(v):
    return pa.array(list(v.astype(np.float32)), type=pa.list_(pa.float32()))


def _jitter(rng, v):
    v = v + JITTER_EPS * rng.uniform(-1.0, 1.0, v.shape) / np.sqrt(3.0)
    return v / np.linalg.norm(v, axis=1, keepdims=True)


def corpus(dst, seed, n_docs, n_vecs, copies):
    """`copies` id-offset copies of a seeded base corpus (the scheme of
    tools/gen_sf.py). Document copies are exact (they are what dedup must
    find); embedding copies after the first are jittered and re-normalized,
    so neighbour rankings stay non-trivial."""
    os.makedirs(dst, exist_ok=True)
    rng = np.random.default_rng(seed)
    texts = _doc_texts(rng, n_docs)
    docs = pa.table({"doc_id": np.arange(n_docs, dtype=np.int64), "text": texts,
                     "lang": [LANGS[i] for i in rng.choice(5, n_docs, p=LANG_P)],
                     "source": [f"src{i}" for i in rng.integers(0, 20, n_docs)],
                     "n_chars": np.array([len(t) for t in texts], dtype=np.int64)},
                    schema=DOCS_SCHEMA)
    vecs, labels = _embeddings(rng, n_vecs)
    dparts, eparts = [], []
    for c in range(copies):
        dparts.append(docs.set_column(0, "doc_id", pa.array(
            np.arange(n_docs, dtype=np.int64) + c * KEY_OFFSET)))
        v = _jitter(np.random.default_rng([seed, c]), vecs) if c > 0 else vecs
        eparts.append(pa.table({"vec_id": np.arange(n_vecs, dtype=np.int64) + c * KEY_OFFSET,
                                "embedding": _emb_array(v), "label": labels},
                               schema=EMB_SCHEMA))
    pq.write_table(pa.concat_tables(dparts), os.path.join(dst, "documents.parquet"),
                   row_group_size=max(256, n_docs * copies // 8))
    pq.write_table(pa.concat_tables(eparts), os.path.join(dst, "embeddings.parquet"),
                   row_group_size=max(256, n_vecs * copies // 8))


def probes(dst_file, corpus_dir, seed, batches, per_batch):
    """Seeded query batches: jittered copies of random corpus vectors."""
    rng = np.random.default_rng([seed, 7])
    emb = pq.read_table(os.path.join(corpus_dir, "embeddings.parquet"))
    vecs = np.array(emb.column("embedding").to_pylist(), dtype=np.float64)
    n = batches * per_batch
    pq.write_table(pa.table({
        "batch": np.repeat(np.arange(batches, dtype=np.int32), per_batch),
        "vec_id": PROBE_ID_BASE + np.arange(n, dtype=np.int64),
        "embedding": _emb_array(_jitter(rng, vecs[rng.integers(0, len(vecs), n)]))}),
        dst_file)
