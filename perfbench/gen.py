"""Seeded input generation for the three workloads.

Everything the program reads is made here from the seed: CoinCap-shaped
poll documents for `medallion`, and for `curation` and `stream_dedup` a
seed-ordered prefix of the repo's sf0.1 `documents` test table (copied to
`data/documents.parquet`), written as one table or split into arrival
files. The same seed gives byte-identical inputs and the same op sequence
(`plan.properties`); `test_perfbench.py` checks that.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import config

DOCUMENTS = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                         "data", "documents.parquet")   # sf0.1 test table
POLL_T0_MS = 1748056129137          # first seeded poll (2025-05-24T03:08:49Z)
POLL_STEP_MS = 300_000              # one poll every 5 minutes
N_ASSETS = 100


def documents(rng, n):
    """The first `n` docs of the sf0.1 `documents` table, in an order drawn
    from `rng`. The seed orders a fixed prefix rather than sampling the
    table: the iterative queries' work (candidate pairs, iterations) depends
    on which docs meet, and varied twofold between samples."""
    docs = pq.read_table(DOCUMENTS).sort_by("doc_id").slice(0, n)
    return docs.take(pa.array(rng.permutation(n)))


class Market:
    """A random walk over 100 assets; `poll(t)` is one API response."""

    def __init__(self, rng):
        self.rng = rng
        self.price = np.exp(rng.uniform(-4, 10, N_ASSETS))
        self.supply = np.exp(rng.uniform(14, 24, N_ASSETS))
        self.capped = rng.random(N_ASSETS) < 0.6
        self.max_supply = self.supply * rng.uniform(0.9, 3.0, N_ASSETS)
        self.explorer = rng.random(N_ASSETS) < 0.8

    def poll(self, t_ms):
        rng = self.rng
        change = rng.normal(0, 4, N_ASSETS)
        self.price = self.price * (1 + change / 100)
        cap = self.price * self.supply
        rank = np.empty(N_ASSETS, dtype=int)
        rank[np.argsort(-cap)] = np.arange(1, N_ASSETS + 1)
        data = []
        for i in range(N_ASSETS):
            data.append({
                "id": f"asset-{i:03d}", "rank": str(rank[i]), "symbol": f"S{i:03d}",
                "name": f"Asset {i:03d}",
                "supply": f"{self.supply[i]:.16f}",
                "maxSupply": f"{self.max_supply[i]:.16f}" if self.capped[i] else None,
                "marketCapUsd": f"{cap[i]:.16f}",
                "volumeUsd24Hr": f"{cap[i] * rng.uniform(0.01, 0.3):.16f}",
                "priceUsd": f"{self.price[i]:.16f}",
                "changePercent24Hr": f"{change[i]:.16f}",
                "vwap24Hr": f"{self.price[i] * rng.uniform(0.97, 1.03):.16f}",
                "explorer": f"https://explorer.example/{i}" if self.explorer[i] else None,
                "tokens": {} if i % 4 else {"chain": [f"0x{i:040x}"]},
            })
        return json.dumps({"data": data, "timestamp": int(t_ms)})


def write_plan(path, props):
    with open(path, "w") as f:
        for k in sorted(props):
            f.write(f"{k}={props[k]}\n")


def generate(workload, seed, seconds, out):
    """Write `workload`'s inputs and `plan.properties` under `out`."""
    rng = np.random.default_rng([config.SEED_SALT[workload], seed])
    w = config.WORKLOADS[workload]
    plan = {"workload": workload, "warmup_ops": w["warmup_ops"],
            "timed_ops": config.timed_ops(workload, seconds)}
    os.makedirs(out, exist_ok=True)
    if workload == "medallion":
        market = Market(rng)
        n_hist, n_cycles = w["history_polls"], plan["warmup_ops"] + plan["timed_ops"]
        for phase, ids in (("history", range(n_hist)), ("cycles", range(n_hist, n_hist + n_cycles))):
            os.makedirs(f"{out}/{phase}", exist_ok=True)
            for i in ids:
                t = POLL_T0_MS + i * POLL_STEP_MS
                with open(f"{out}/{phase}/{t}.json", "w") as f:
                    f.write(market.poll(t))
        plan["history_polls"] = n_hist
    elif workload == "curation":
        os.makedirs(f"{out}/tables", exist_ok=True)
        docs = documents(rng, w["docs"])
        pq.write_table(docs, f"{out}/tables/documents.parquet")
        plan["queries"] = ",".join(rng.permutation(config.CURATION_QUERIES))
    elif workload == "stream_dedup":
        n_files, per_file = w["files"], w["docs_per_file"]
        docs = documents(rng, n_files * per_file)   # the seed assigns docs to files
        os.makedirs(f"{out}/arrivals", exist_ok=True)
        for f in range(n_files):
            part = docs.slice(f * per_file, per_file).sort_by("doc_id")
            path = f"{out}/arrivals/arrival-{f:03d}.parquet"
            pq.write_table(part, path)
            # the file source orders arrivals by modification time
            os.utime(path, (1_000_000_000 + f * 60,) * 2)
        plan.update(files=n_files, docs_per_file=per_file,
                    k=config.STREAM_K, r=config.STREAM_R)
    else:
        raise ValueError(f"unknown workload {workload}")
    write_plan(f"{out}/plan.properties", plan)
    return plan
