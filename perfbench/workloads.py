"""The workloads: what each generates from its seed and how its results
are checked. The operation lists themselves live in the harness
(src/main/scala/perfbench)."""
import datetime as dt
import json
import os

import gen

# the schedule starts 1995-10-01 shifted +28 years: whole 28-year cycles
# keep weekdays and leap years, and every date lies inside the range
# Models.dimDate builds (from 2020-01-01)
NHL_START = dt.date(1995 + 28, 10, 1)
NHL_BLOCKS = 10          # equal-volume schedule blocks; the seed picks one
NHL_BLOCK_DAYS = 5       # 4 days of bronze history, then the replayed day
NHL_LINES_PER_GAME = 12
NHL_LAST_DAY_GAMES = 12  # the replayed day
CORPUS_DOCS, CORPUS_VECS, CORPUS_COPIES = 500, 500, 2
PROBE_BATCHES, PROBE_SIZE = 4, 8


class Spec:
    def __init__(self, generate, oracle_tables=None, pool=None):
        self.generate = generate        # (input dir, seed, pool dir) -> None
        self.oracle_tables = oracle_tables
        self.pool = pool                # once per build: (pool dir, run_jvm) -> None


def _nhl_pool(pool, run_jvm):
    """The serialized Synthetic documents of every schedule block."""
    src = os.path.join(pool, "schedule")
    keys = gen.nhl_orders(src, NHL_BLOCKS, NHL_START, NHL_BLOCK_DAYS, NHL_LINES_PER_GAME,
                          NHL_LAST_DAY_GAMES)
    run_jvm(["perfbench.NhlPool", src, os.path.join(pool, "docs.jsonl"), pool])
    with open(os.path.join(pool, "blocks.json"), "w") as fh:
        json.dump(keys, fh)


def _nhl(dst, seed, pool):
    with open(os.path.join(pool, "blocks.json")) as fh:
        keys = json.load(fh)[seed % NHL_BLOCKS]
    gen.nhl_raw(os.path.join(dst, "nhl"), os.path.join(pool, "docs.jsonl"), keys, seed)


def _corpus(dst, seed, pool):
    d = os.path.join(dst, "corpus")
    gen.corpus(d, seed, CORPUS_DOCS, CORPUS_VECS, CORPUS_COPIES)
    gen.probes(os.path.join(d, "probes.parquet"), d, seed, PROBE_BATCHES, PROBE_SIZE)


WORKLOADS = {
    "nhl_daily": Spec(_nhl, pool=_nhl_pool),
    "corpus_dedup_ann": Spec(_corpus, oracle_tables="corpus"),
}
