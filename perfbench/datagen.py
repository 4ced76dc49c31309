"""Inputs of the benchmark, drawn from the harness fixture tables.

`perfbench/fixture/` holds byte copies of the harness fixture tables of
TESTDATA.md (seed 42): every table at sf0.001, and `documents` (5000 rows)
and `embeddings` (2000 unit-norm 64-d vectors) at sf0.1. The benchmark reads
them in place; the seed only picks, salts and splits their rows:

- curation: a seeded sample of the sf0.1 `documents`. It keeps the
  fixture's 5% near-duplicate share: a near duplicate is a copy of another
  document plus the word "dup", and the sample takes both documents of
  every pair it keeps.
- index_store: salted copies of the sf0.1 `embeddings` (each copy a
  perturbed, renormalised version of the fixture vectors) and a sample of
  the sf0.1 `documents`, both with ids permuted by the seed. The seed also
  splits them into the initial slice, the append batches and the probes.

The same seed gives the same inputs.
"""
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FIXTURE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixture")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
DUP_SHARE = 0.05  # near-duplicate share of the fixture's documents
NOISE = 0.05  # per-dimension noise of a salted vector copy


def fixture(sf, name):
    return pq.read_table(os.path.join(FIXTURE, f"sf{sf}", f"{name}.parquet"))


def dup_pairs(docs):
    """(near duplicate, original) row pairs of a documents table."""
    texts = docs["text"].to_pylist()
    row_of = {t: i for i, t in enumerate(texts)}
    return [(i, row_of[t[:-4]]) for i, t in enumerate(texts)
            if t.endswith(" dup") and t[:-4] in row_of
            and not texts[row_of[t[:-4]]].endswith(" dup")]


def sample_documents(rng, docs, n):
    """n rows of `docs` in doc_id order, DUP_SHARE of them near duplicates
    whose originals are in the sample too."""
    pairs = dup_pairs(docs)
    keep = rng.choice(len(pairs), round(n * DUP_SHARE), replace=False)
    rows = {r for p in keep for r in pairs[p]}
    dups = {i for i, t in enumerate(docs["text"].to_pylist()) if t.endswith(" dup")}
    rest = [i for i in range(docs.num_rows) if i not in rows and i not in dups]
    rows |= set(rng.choice(rest, n - len(rows), replace=False).tolist())
    return docs.take(sorted(rows))


def write(tabs, out_dir):
    """Writes tables as <name>.parquet; returns their row counts."""
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tabs.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tabs.items()}


def harness_tables(out_dir, documents=None):
    """The sf0.001 harness tables, with `documents` replaced when given. The
    DuckDB oracle opens a view on every harness table, so all ten are there
    even where a workload reads one."""
    os.makedirs(out_dir, exist_ok=True)
    for name in TABLES:
        if not (name == "documents" and documents is not None):
            shutil.copy(os.path.join(FIXTURE, "sf0.001", f"{name}.parquet"), out_dir)
    if documents is not None:
        write({"documents": documents}, out_dir)
    return {name: pq.read_metadata(os.path.join(out_dir, f"{name}.parquet")).num_rows
            for name in TABLES}


def curation_inputs(seed, n_docs, out_dir):
    rng = np.random.default_rng(seed)
    return harness_tables(out_dir, sample_documents(rng, fixture("0.1", "documents"), n_docs))


def salted_embeddings(rng, emb, copies):
    """`copies` versions of the fixture vectors (the first unchanged, the
    others perturbed and renormalised) under seeded, permuted ids."""
    v = np.stack(emb["embedding"].to_numpy(zero_copy_only=False)).astype(np.float32)
    vs = [v]
    for _ in range(copies - 1):
        c = v + np.float32(NOISE) * rng.standard_normal(v.shape).astype(np.float32)
        vs.append(c / np.linalg.norm(c, axis=1, keepdims=True))
    allv = np.concatenate(vs)
    return pa.table({
        "vec_id": pa.array(rng.permutation(len(allv)), pa.int64()),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(allv.ravel()), v.shape[1]).cast(pa.list_(pa.float32())),
        "label": pa.concat_arrays([emb["label"].combine_chunks()] * copies),
    })


def bigram_tf(docs):
    """BM25 postings (id, dl, term, tf) of a documents table: lower-cased
    whitespace tokens, adjacent pairs as terms, dl = number of pairs."""
    ids, dls, terms, tfs = [], [], [], []
    for doc_id, text in zip(docs["doc_id"].to_pylist(), docs["text"].to_pylist()):
        ws = text.lower().split()
        if len(ws) < 2:
            continue
        counts = {}
        for a, b in zip(ws, ws[1:]):
            t = f"{a} {b}"
            counts[t] = counts.get(t, 0) + 1
        for t, c in counts.items():
            ids.append(doc_id)
            dls.append(len(ws) - 1)
            terms.append(t)
            tfs.append(c)
    return pa.table({"id": pa.array(ids, pa.int64()), "dl": pa.array(dls, pa.int64()),
                     "term": pa.array(terms, pa.string()), "tf": pa.array(tfs, pa.int64())})


def index_store_inputs(seed, sf, copies, n_docs, out_dir, cells, batches,
                       probe_ops, late_share=0.3, probe_batch=8, query_terms=3):
    """Inputs of the index_store workload, drawn from the fixture at `sf`:
    `embeddings.parquet` and `documents.parquet` (the corpus), and under
    `index_store/`:

    - `ivf_init.parquet` / `bm25_init.parquet`: the initial slice the indexes
      are built from (it holds every vector id below `cells`, the ids the
      training-free quantizer takes as centroids);
    - `ivf_stream/`, `bm25_stream/`: the rest, one parquet file per ingest
      micro-batch (a document's postings stay in one batch);
    - `tf_all.parquet`: postings of the whole corpus (the BM25 reference);
    - `probes_ivf.parquet` (batch, q_id, q_vec) and `probes_bm25.parquet`
      (batch, q_id, term): `probe_ops` probe batches of each kind.

    Returns the corpus row counts.
    """
    rng = np.random.default_rng(seed)
    vecs = salted_embeddings(rng, fixture(sf, "embeddings"), copies)
    docs = sample_documents(rng, fixture(sf, "documents"), n_docs)
    docs = docs.set_column(0, "doc_id", pa.array(rng.permutation(n_docs), pa.int64()))
    rows = write({"embeddings": vecs, "documents": docs}, out_dir)
    out_dir = os.path.join(out_dir, "index_store")
    os.makedirs(out_dir)
    vecs = vecs.select(["vec_id", "embedding"])
    tf = bigram_tf(docs)
    pq.write_table(tf, os.path.join(out_dir, "tf_all.parquet"))
    for name, t, key in (("ivf", vecs, "vec_id"), ("bm25", tf, "id")):
        ids = t[key].to_numpy()
        uniq = np.unique(ids)
        late_ids = uniq[(rng.random(len(uniq)) < late_share) & (uniq >= cells)]
        batch_of = dict(zip(late_ids.tolist(), rng.integers(0, batches, len(late_ids)).tolist()))
        b = np.array([batch_of.get(i, -1) for i in ids.tolist()])
        pq.write_table(t.filter(pa.array(b < 0)), os.path.join(out_dir, f"{name}_init.parquet"))
        os.makedirs(os.path.join(out_dir, f"{name}_stream"))
        for k in range(batches):
            pq.write_table(t.filter(pa.array(b == k)),
                           os.path.join(out_dir, f"{name}_stream", f"batch-{k:02d}.parquet"))
    n = probe_ops * probe_batch
    pick = rng.choice(vecs.num_rows, n, replace=False)
    pq.write_table(pa.table({
        "batch": pa.array(np.arange(n) // probe_batch, pa.int32()),
        "q_id": vecs["vec_id"].take(pick),
        "q_vec": vecs["embedding"].take(pick)}),
        os.path.join(out_dir, "probes_ivf.parquet"))
    qdocs = rng.choice(np.unique(tf["id"].to_numpy()), n, replace=False)
    terms_of = {}
    for i, t in zip(tf["id"].to_pylist(), tf["term"].to_pylist()):
        terms_of.setdefault(i, []).append(t)
    qs = [(k // probe_batch, int(d), t) for k, d in enumerate(qdocs)
          for t in rng.choice(sorted(terms_of[int(d)]), query_terms, replace=False)]
    pq.write_table(pa.table({
        "batch": pa.array([q[0] for q in qs], pa.int32()),
        "q_id": pa.array([q[1] for q in qs], pa.int64()),
        "term": pa.array([q[2] for q in qs], pa.string())}),
        os.path.join(out_dir, "probes_bm25.parquet"))
    return rows
