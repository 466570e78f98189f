"""Checks each run's outputs without graft: DuckDB over the same inputs,
the generator's planted-family ground truth, or brute-force top-k.

Each verifier is built once per process from the inputs, then called
on every output directory a run left behind. It returns
(ok, recall, digest): recall is the share of the expected result the
output reproduces, digest an order-independent fingerprint of the
output rows, used to show that traced and untraced runs wrote the
same rows.
"""
import glob
import hashlib
import json
import os

import duckdb
import numpy as np
import pyarrow.parquet as pq


def _parquet(path):
    """Spark writes a directory of part files; read only those."""
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        raise FileNotFoundError(f"no parquet output under {path}")
    return "[" + ",".join(f"'{f}'" for f in files) + "]"


def _digest(con, src, cols):
    r = con.execute(
        f"SELECT count(*), sum(hash({', '.join(cols)})::HUGEINT) FROM read_parquet({src})"
    ).fetchone()
    return f"{r[0]}:{r[1]}"


class EtlJoinAgg:
    ORACLE = """
        SELECT o.o_orderpriority, l.l_shipmode,
               sum(l.l_extendedprice * (1 - l.l_discount)) AS revenue,
               count(*) AS n_lines, count(DISTINCT o.o_custkey) AS n_customers,
               avg(l.l_quantity) AS avg_qty
        FROM read_parquet('{i}/lineitem/*.parquet') l
        JOIN read_parquet('{i}/orders/*.parquet') o ON l.l_orderkey = o.o_orderkey
        WHERE l.l_shipdate <= DATE '1998-09-02'
          AND l.l_discount > 0.025 AND l.l_discount < 0.085
        GROUP BY ALL"""

    def __init__(self, inputs, manifest):
        self.con = duckdb.connect()
        rows = self.con.execute(self.ORACLE.format(i=inputs)).fetchall()
        self.expected = {tuple(r[:2]): r[2:] for r in rows}

    def __call__(self, out):
        src = _parquet(os.path.join(out, "report"))
        rows = self.con.execute(
            "SELECT o_orderpriority, l_shipmode, revenue, n_lines, n_customers, avg_qty "
            f"FROM read_parquet({src})").fetchall()
        got = {tuple(r[:2]): r[2:] for r in rows}
        matched = sum(1 for k, v in self.expected.items() if k in got and
                      got[k][1:3] == v[1:3] and
                      np.isclose(got[k][0], v[0], rtol=1e-9, atol=0) and
                      np.isclose(got[k][3], v[3], rtol=1e-12, atol=0))
        recall = matched / len(self.expected)
        ok = recall == 1.0 and len(got) == len(rows) == len(self.expected)
        digest = hashlib.sha256(json.dumps(
            sorted((k, v[1], v[2], round(v[0], 2), round(v[3], 9)) for k, v in got.items())
        ).encode()).hexdigest()
        return ok, recall, digest


class CorpusDedup:
    def __init__(self, inputs, manifest):
        self.con = duckdb.connect()
        with open(os.path.join(inputs, "expected_ids.json")) as fh:
            self.expected = set(json.load(fh))

    def __call__(self, out):
        src = _parquet(os.path.join(out, "clean"))
        ids = [r[0] for r in self.con.execute(
            f"SELECT doc_id FROM read_parquet({src})").fetchall()]
        got = set(ids)
        recall = len(got & self.expected) / len(self.expected)
        ok = got == self.expected and len(ids) == len(got)
        return ok, recall, _digest(self.con, src, ["doc_id", "text"])


class AnnIndex:
    K = 10
    MIN_RECALL = 0.9

    def __init__(self, inputs, manifest):
        self.con = duckdb.connect()
        t = pq.read_table(os.path.join(inputs, "corpus"), columns=["vec_id", "embedding"])
        self.ids = t.column("vec_id").to_numpy()
        emb = np.stack(t.column("embedding").to_numpy(zero_copy_only=False)).astype(np.float64)
        emb /= np.linalg.norm(emb, axis=1, keepdims=True)
        self.emb = emb
        qpos = np.where(self.ids % manifest["sizes"]["query_every"] == 0)[0]
        self.truth = {}
        for s in range(0, len(qpos), 100):
            part = qpos[s:s + 100]
            sims = emb[part] @ emb.T
            sims[np.arange(len(part)), part] = -np.inf  # a query is not its own neighbour
            top = np.argpartition(-sims, self.K, axis=1)[:, :self.K]
            for row, p in enumerate(part):
                self.truth[int(self.ids[p])] = set(int(self.ids[j]) for j in top[row])
        self.pos = {int(v): i for i, v in enumerate(self.ids)}

    def __call__(self, out):
        src = _parquet(os.path.join(out, "neighbors"))
        rows = self.con.execute(
            f"SELECT query_id, neighbor_id, cosine, rank FROM read_parquet({src})").fetchall()
        indexed = self.con.execute(
            f"SELECT count(*), count(DISTINCT vec_id) FROM read_parquet({_parquet(os.path.join(out, 'indexed_corpus'))})"
        ).fetchone()
        got = {}
        cos_ok = True
        for q, n, c, r in rows:
            got.setdefault(q, set()).add(n)
            exact = float(self.emb[self.pos[q]] @ self.emb[self.pos[n]])
            cos_ok &= abs(exact - c) < 1e-6 and 1 <= r <= self.K and q != n
        hits = sum(len(got.get(q, set()) & t) for q, t in self.truth.items())
        recall = hits / (self.K * len(self.truth))
        ok = (cos_ok and recall >= self.MIN_RECALL and set(got) == set(self.truth)
              and all(len(v) == self.K for v in got.values())
              and indexed == (len(self.ids), len(self.ids)))
        return ok, recall, _digest(self.con, src, ["query_id", "neighbor_id", "rank"])


class StreamIngest:
    COLS = ["event_id", "user_id", "event_type", "value"]

    def __init__(self, inputs, manifest):
        self.con = duckdb.connect()
        self.src = f"'{inputs}/landing/*.parquet'"
        r = self.con.execute(
            f"SELECT count(*), sum(hash({', '.join(self.COLS)})::HUGEINT) "
            f"FROM read_parquet({self.src}) WHERE value > 50.0").fetchone()
        self.expected = f"{r[0]}:{r[1]}"
        self.n = r[0]

    def __call__(self, out):
        src = _parquet(os.path.join(out, "high_value"))
        digest = _digest(self.con, src, self.COLS)
        if digest == self.expected:
            return True, 1.0, digest
        missing = self.con.execute(
            f"SELECT count(*) FROM (SELECT {', '.join(self.COLS)} FROM read_parquet({self.src}) "
            f"WHERE value > 50.0 EXCEPT ALL SELECT {', '.join(self.COLS)} FROM read_parquet({src}))"
        ).fetchone()[0]
        return False, 1.0 - missing / self.n, digest


VERIFIERS = {
    "etl_join_agg": EtlJoinAgg,
    "corpus_dedup": CorpusDedup,
    "ann_index": AnnIndex,
    "stream_ingest": StreamIngest,
}
