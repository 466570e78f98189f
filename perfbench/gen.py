"""Seeded input generators, one per workload.

Each generator writes parquet inputs into a directory and returns a
small manifest (row counts, bytes, and the ground truth the verifier
needs). The same seed gives byte-identical inputs. Generation is never
timed: run.py caches the inputs per (workload, seed, size) under
.bench_data/ and the JVM only ever sees the finished files.
"""
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Input sizes. Changing one changes the cache key, so stale inputs are
# never reused.
SIZES = {
    "etl_join_agg": {"lineitem": 600_000, "orders": 150_000},
    "corpus_dedup": {"docs": 1_500, "family_share": 0.2},
    "ann_index": {"vectors": 5_000, "dim": 64, "clusters": 32,
                  "query_every": 20},
    "stream_ingest": {"files": 6, "rows_per_file": 25_000},
}

EPOCH_1992 = np.datetime64("1992-01-01", "D").astype(np.int64)


def size_tag(workload):
    """Cache key part: the sizes plus this file's hash, so inputs made by
    an older generator are never reused."""
    with open(__file__, "rb") as fh:
        code = hashlib.sha256(fh.read()).hexdigest()[:10]
    return "_".join(f"{k}{v}" for k, v in sorted(SIZES[workload].items())) + "_" + code


def _write(table, path, parts):
    """Write `table` as a directory of `parts` files, so the scan has
    one task per file at least, like a real multi-file table."""
    os.makedirs(path)
    step = -(-table.num_rows // parts)
    total = 0
    for i in range(parts):
        f = os.path.join(path, f"part-{i:03d}.parquet")
        pq.write_table(table.slice(i * step, step), f, compression="snappy",
                       row_group_size=65536)
        total += os.path.getsize(f)
    return total


def gen_etl_join_agg(rng, out):
    s = SIZES["etl_join_agg"]
    n_o, n_l = s["orders"], s["lineitem"]
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    orders = pa.table({
        "o_orderkey": np.arange(1, n_o + 1, dtype=np.int64),
        "o_custkey": rng.integers(1, n_o // 10 + 1, n_o, dtype=np.int64),
        "o_orderstatus": rng.choice(np.array(["O", "F", "P"]), n_o),
        "o_totalprice": np.round(rng.uniform(900.0, 500_000.0, n_o), 2),
        "o_orderdate": pa.array(EPOCH_1992 + rng.integers(0, 2405, n_o),
                                pa.int32()).cast(pa.date32()),
        "o_orderpriority": rng.choice(prio, n_o),
    })
    qty = rng.integers(1, 51, n_l).astype(np.float64)
    modes = np.array(["AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK"])
    lineitem = pa.table({
        "l_orderkey": rng.integers(1, n_o + 1, n_l, dtype=np.int64),
        "l_partkey": rng.integers(1, 200_001, n_l, dtype=np.int64),
        "l_suppkey": rng.integers(1, 10_001, n_l, dtype=np.int64),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2000.0, n_l), 2),
        "l_discount": rng.integers(0, 11, n_l) / 100.0,
        "l_tax": rng.integers(0, 9, n_l) / 100.0,
        "l_returnflag": rng.choice(np.array(["A", "N", "R"]), n_l),
        "l_linestatus": rng.choice(np.array(["O", "F"]), n_l),
        "l_shipdate": pa.array(EPOCH_1992 + rng.integers(1, 2526, n_l),
                               pa.int32()).cast(pa.date32()),
        "l_shipmode": rng.choice(modes, n_l),
    })
    ship = lineitem.column("l_shipdate").cast(pa.int32()).to_numpy()
    disc = lineitem.column("l_discount").to_numpy()
    window = (ship <= np.datetime64("1998-09-02", "D").astype(np.int64)) & (disc > 0.025) & (disc < 0.085)
    return {"rows": {"lineitem": n_l, "orders": n_o},
            "bytes": {"lineitem": _write(lineitem, f"{out}/lineitem", 4),
                      "orders": _write(orders, f"{out}/orders", 2)},
            "filter_pass_rate": round(float(window.mean()), 4)}


def _vocab(rng, n=4000):
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = set()
    while len(words) < n:
        k = int(rng.integers(4, 10))
        words.add("".join(rng.choice(letters, k)))
    return sorted(words)


# Glue words: every Gopher required stopword plus the quality-score
# stopwords, so prose documents clear both rules by a wide margin.
GLUE = ["the", "of", "and", "to", "with", "that", "have", "be", "in", "is",
        "for", "on", "as", "at", "by", "this"]


def _prose(rng, vocab, n_lines):
    lines = []
    for _ in range(n_lines):
        n = int(rng.integers(12, 19))
        ws = [vocab[i] for i in rng.integers(0, len(vocab), n)]
        for j in rng.choice(n, 4, replace=False):
            ws[j] = GLUE[int(rng.integers(0, len(GLUE)))]
        lines.append(" ".join(ws) + ".")
    return lines


def gen_corpus_dedup(rng, out):
    """Three document kinds, each far from every gate threshold so the
    expected survivors follow from the generator alone:
    prose (6-9 lines of 12-18 words: passes every gate), stubs (8-14
    words: fail gopher's 50-word minimum) and menus (50-70 lines of one
    or two words: pass gopher, fail the words_per_line >= 4 filter).
    Planted near-dup families are prose: a base document plus 1-4
    copies that each differ from it in one word, so every member is a
    near-duplicate of the base (char-5 shingle Jaccard > 0.9).
    The mix of kinds and family sizes is the same for every seed, so
    the output size does not depend on the seed; the words do."""
    s = SIZES["corpus_dedup"]
    n = s["docs"]
    vocab = _vocab(rng)
    n_stub, n_menu = int(n * 0.08), int(n * 0.06)
    sizes = [2, 3, 4, 5]  # family sizes, cycled
    n_fam = int(n * s["family_share"] / 2.5)  # 2.5 copies per family on average
    n_single = n - n_stub - n_menu - sum(sizes[i % 4] for i in range(n_fam))
    docs, kind, family = [], [], []
    for _ in range(n_stub):
        k = int(rng.integers(8, 15))
        docs.append(" ".join(vocab[i] for i in rng.integers(0, len(vocab), k)) + ".")
        kind.append("stub"); family.append(-1)
    for _ in range(n_menu):
        lines = []
        for _ in range(int(rng.integers(50, 71))):
            ws = [vocab[i] for i in rng.integers(0, len(vocab), int(rng.integers(1, 3)))]
            lines.append(" ".join(ws))
        lines[0] = "the home of"
        lines[1] = "and to the news"
        docs.append("\n".join(lines))
        kind.append("menu"); family.append(-1)
    for _ in range(n_single):
        docs.append("\n".join(_prose(rng, vocab, int(rng.integers(6, 10)))))
        kind.append("prose"); family.append(-1)
    for f in range(n_fam):
        base = _prose(rng, vocab, int(rng.integers(6, 10)))
        docs.append("\n".join(base)); kind.append("prose"); family.append(f)
        for _ in range(sizes[f % 4] - 1):
            var = list(base)
            li = int(rng.integers(0, len(var)))
            ws = var[li].rstrip(".").split(" ")
            ws[int(rng.integers(0, len(ws)))] = vocab[int(rng.integers(0, len(vocab)))]
            var[li] = " ".join(ws) + "."
            docs.append("\n".join(var)); kind.append("prose"); family.append(f)
    order = rng.permutation(n)
    docs = [docs[i] for i in order]
    kind = np.array(kind)[order]
    family = np.array(family)[order]
    # ids are a seeded permutation too, so a family's survivor (its min
    # id) is not always its base document
    ids = rng.permutation(n).astype(np.int64) + 1
    sources = rng.choice(np.array(["src0", "src1", "src2"]), n)
    table = pa.table({"doc_id": ids, "source": sources, "text": docs})
    nbytes = _write(table, f"{out}/docs", 8)
    passing = kind == "prose"
    keep = passing.copy()
    for f in range(n_fam):
        members = np.where(family == f)[0]
        keep[members] = False
        keep[members[np.argmin(ids[members])]] = True
    expected = sorted(int(i) for i in ids[keep])
    with open(f"{out}/expected_ids.json", "w") as fh:
        json.dump(expected, fh)
    return {"rows": {"docs": n}, "bytes": {"docs": nbytes},
            "near_dup_share": round(float(((family >= 0) & ~keep).sum()) / n, 4),
            "gopher_pass_rate": round(float((kind != "stub").mean()), 4),
            "filter_pass_rate": round(float(passing.sum()) / float((kind != "stub").sum()), 4),
            "expected_rows": len(expected)}


def gen_ann_index(rng, out):
    """Mixture of Gaussians, the shape of
    graft.ops.SyntheticEmbeddings.mixtureOfGaussians: k unit centers
    from a seeded Gaussian draw, label = vec_id % k, embedding =
    center(label) + 0.05 * N(0, I), stored as float32."""
    s = SIZES["ann_index"]
    n, d, k = s["vectors"], s["dim"], s["clusters"]
    centers = rng.standard_normal((k, d))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    ids = np.arange(n, dtype=np.int64)
    labels = (ids % k).astype(np.int32)
    emb = (centers[labels] + 0.05 * rng.standard_normal((n, d))).astype(np.float32)
    arr = pa.FixedSizeListArray.from_arrays(pa.array(emb.reshape(-1)), d)
    table = pa.table({"vec_id": ids, "label": labels,
                      "embedding": arr.cast(pa.list_(pa.float32()))})
    nbytes = _write(table, f"{out}/corpus", 4)
    return {"rows": {"corpus": n, "queries": (n + s["query_every"] - 1) // s["query_every"]},
            "bytes": {"corpus": nbytes}}


def gen_stream_ingest(rng, out):
    s = SIZES["stream_ingest"]
    os.makedirs(f"{out}/landing")
    types = np.array(["view", "click", "cart", "purchase"])
    total = 0
    passing = 0
    for f in range(s["files"]):
        m = s["rows_per_file"]
        t = pa.table({
            "event_id": np.arange(f * m, (f + 1) * m, dtype=np.int64),
            "user_id": rng.integers(0, 50_000, m, dtype=np.int64),
            "event_type": rng.choice(types, m),
            "value": np.round(rng.uniform(0.0, 100.0, m), 3),
            "ts": (1_700_000_000_000 + f * 60_000 + rng.integers(0, 60_000, m)).astype(np.int64),
            "payload": rng.choice(np.array(["a" * 20, "b" * 40, "c" * 60]), m),
        })
        passing += int((t.column("value").to_numpy() > 50.0).sum())
        path = f"{out}/landing/events_{f:03d}.parquet"
        pq.write_table(t, path, compression="snappy")
        total += os.path.getsize(path)
    return {"rows": {"events": s["files"] * s["rows_per_file"]},
            "bytes": {"events": total}, "files": s["files"],
            "filter_pass_rate": round(passing / (s["files"] * s["rows_per_file"]), 4)}


GENERATORS = {
    "etl_join_agg": gen_etl_join_agg,
    "corpus_dedup": gen_corpus_dedup,
    "ann_index": gen_ann_index,
    "stream_ingest": gen_stream_ingest,
}


def ensure_inputs(root, workload, seed):
    """Return (input_dir, manifest), generating the inputs on a miss."""
    d = os.path.join(root, workload, f"seed{seed}_{size_tag(workload)}")
    manifest = os.path.join(d, "manifest.json")
    if os.path.exists(manifest):
        with open(manifest) as fh:
            return d, json.load(fh)
    tmp = d + f".tmp{os.getpid()}"
    os.makedirs(tmp, exist_ok=True)
    # one stream per (workload, seed): workloads never share draws
    rng = np.random.default_rng([seed, sorted(GENERATORS).index(workload)])
    m = GENERATORS[workload](rng, tmp)
    m.update({"workload": workload, "seed": seed, "sizes": SIZES[workload]})
    with open(os.path.join(tmp, "manifest.json"), "w") as fh:
        json.dump(m, fh, indent=1)
    os.replace(tmp, d)
    return d, m
