"""Build the benchmark's inputs and expected answers.

    python3 perfbench/prepare.py

Writes, under ``.perfbench/data/<key>/`` at the repository root (a
git-ignored directory):

- ``base/``: the base tier, the ten contract tables at TPC-H scale
  factor 0.01 from ``datagen`` with seed 42 (60 000 lineitem rows, 500
  documents);
- ``x10/``: the 10x tier derived from it. Every replica shifts the
  fact tables' keys by ``KEY_OFFSET``, and every replica after the
  first maps each document word through a seeded permutation of the
  vocabulary, so replicas are distinct documents with the base tier's
  near-duplicate structure. Dimension tables are copied once;
- ``answers.json``: each workload query's answer, computed anew by
  DuckDB from the contract's ``ORACLES`` over the tier's parquet files.

``<key>`` hashes the generator's source and parameters; the answers
carry their own key, a hash of the tier files and the oracle SQL, so a
changed oracle or table recomputes them. Runs of ``run.py`` call
``ensure`` and so prepare on first use, never inside a timed run.
"""

from __future__ import annotations

import fcntl
import hashlib
import json
import os
import random
import shutil
import sys

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(BENCH_DIR)
STATE = os.path.join(REPO, ".perfbench")
sys.path[:0] = [BENCH_DIR, REPO]

import datagen  # noqa: E402
from pipeline_dataengineer_spark.catalog import TABLES  # noqa: E402

BASE_SF = 0.01
SEED = 42
REPLICAS = 10
KEY_OFFSET = 10_000_000
# table -> key columns shifted per replica (orders and lineitem by the
# same offset, so the join between them holds within each replica)
FACTS = {
    "lineitem": ["l_orderkey"],
    "orders": ["o_orderkey"],
    "events": ["event_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}


def _sha(*parts: bytes) -> str:
    h = hashlib.sha256()
    for p in parts:
        h.update(hashlib.sha256(p).digest())
    return h.hexdigest()[:16]


def _source(path: str) -> bytes:
    with open(path, "rb") as fh:
        return fh.read()


def _permute_text(texts: pa.Array, replica: int) -> pa.Array:
    vocab = list(datagen.VOCAB)
    perm = list(vocab)
    random.Random(SEED * 1000 + replica).shuffle(perm)
    mapping = dict(zip(vocab, perm))
    return pa.array(
        [" ".join(mapping.get(w, w) for w in t.split(" ")) for t in texts.to_pylist()]
    )


def build_x10(base: str, out: str) -> None:
    os.makedirs(out, exist_ok=True)
    for name in TABLES:
        src = os.path.join(base, f"{name}.parquet")
        if name not in FACTS:
            shutil.copyfile(src, os.path.join(out, f"{name}.parquet"))
            continue
        tbl = pq.read_table(src)
        parts = []
        for i in range(REPLICAS):
            rep = tbl
            for col in FACTS[name]:
                idx = rep.schema.get_field_index(col)
                rep = rep.set_column(idx, col, pc.add(rep[col], i * KEY_OFFSET))
            if name == "documents" and i:
                text = _permute_text(rep["text"].combine_chunks(), i)
                rep = rep.set_column(rep.schema.get_field_index("text"), "text", text)
                n_chars = pa.array([len(t) for t in text.to_pylist()], pa.int64())
                rep = rep.set_column(rep.schema.get_field_index("n_chars"), "n_chars", n_chars)
            parts.append(rep)
        pq.write_table(pa.concat_tables(parts), os.path.join(out, f"{name}.parquet"))


def _tier_hash(tier_dir: str) -> bytes:
    return b"".join(
        hashlib.sha256(_source(os.path.join(tier_dir, f"{t}.parquet"))).digest()
        for t in TABLES
    )


def oracle_answers(tier_dir: str, names: list[str]) -> dict:
    import duckdb

    from compare import canon_rows
    from pipeline_dataengineer_spark.contract import ORACLES

    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{os.path.join(STATE, 'duckdb_tmp')}'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tier_dir}/{t}.parquet'")
    out = {}
    for name in names:
        res = con.execute(ORACLES[name])
        cols, rows = canon_rows([d[0] for d in res.description], res.fetchall())
        out[name] = {"columns": cols, "rows": rows}
    con.close()
    return out


def answers_key(data_dir: str, tiers: dict[str, list[str]]) -> str:
    from pipeline_dataengineer_spark.contract import ORACLES

    parts = [json.dumps(tiers, sort_keys=True).encode()]
    for tier, names in sorted(tiers.items()):
        parts.append(_tier_hash(os.path.join(data_dir, tier)))
        parts.extend(ORACLES[n].encode() for n in names)
    return _sha(*parts)


def workload_tiers() -> dict[str, list[str]]:
    """Tier name -> the queries run over it."""
    from workloads import WORKLOADS

    tiers: dict[str, list[str]] = {}
    for spec in WORKLOADS.values():
        if "tier" in spec:
            tiers.setdefault(spec["tier"], []).extend(spec["queries"])
    return tiers


def ensure(log=print) -> str:
    """Data directory holding both tiers and every workload query's
    answer; built on first use."""
    tiers = workload_tiers()
    key = _sha(_source(datagen.__file__), _source(__file__),
               repr((BASE_SF, SEED, REPLICAS, KEY_OFFSET)).encode())
    data_dir = os.path.join(STATE, "data", key)
    os.makedirs(STATE, exist_ok=True)
    with open(os.path.join(STATE, "prepare.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if not os.path.exists(os.path.join(data_dir, "READY")):
            log(f"perfbench: generating tiers in {data_dir}")
            shutil.rmtree(data_dir, ignore_errors=True)
            datagen.generate(os.path.join(data_dir, "base"), BASE_SF, SEED)
            build_x10(os.path.join(data_dir, "base"), os.path.join(data_dir, "x10"))
            open(os.path.join(data_dir, "READY"), "w").close()
        akey = answers_key(data_dir, tiers)
        path = os.path.join(data_dir, "answers.json")
        cached = None
        if os.path.exists(path):
            with open(path) as fh:
                cached = json.load(fh)
        if cached is None or cached.get("key") != akey:
            log("perfbench: computing oracle answers with DuckDB")
            answers = {"key": akey}
            for tier, names in tiers.items():
                answers[tier] = oracle_answers(os.path.join(data_dir, tier), names)
            with open(path + ".tmp", "w") as fh:
                json.dump(answers, fh)
            os.replace(path + ".tmp", path)
    return data_dir


def main() -> int:
    print(ensure())
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
