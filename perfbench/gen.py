"""Seeded input generator for the benchmark workloads.

One seed gives byte-identical parquet files; another seed gives another mix
of giant / html / pdf_layout / media docs (extract), another query vector and
tie-breaks (retrieve) and another set of duplicated docs (curate).

The engine's sf0.1 test tables (TESTDATA.md) are not part of a checkout, so
the generator synthesises tables of their shape. The shape was measured on
sf0.1's `documents` (5,000 rows) and `embeddings` (2,000 rows):

- `documents(doc_id int64, text, lang, source, n_chars int64)`: text is
  word salad over 30 words, 10-99 tokens uniformly (mean 54.1); lang shares
  en 0.412, zh 0.151, es 0.149, fr 0.148, de 0.140; source is
  `src{doc_id % 20}`; n_chars is the text's length;
- 243 rows (4.86 %) are another row's text plus " dup" (near duplicates)
  and 8 texts (0.16 %) occur twice (exact duplicates);
- `embeddings(vec_id int64, embedding list<float>[64], label int32)`:
  unit-length Gaussian vectors, labels 0-9 uniformly.

Departures from sf0.1, per workload:

- extract: one sf0.1-sized table with seeded int64 doc_ids spread over
  2^40 (the doc_id decides DocSynth's giant / html / pdf_layout / media
  choice and the commit group) instead of a replication of sf0.1 itself.
- curate: one sf0.1-sized table, not several, so that a run fits its
  time budget; the texts draw from a 400-word vocabulary (an assumption,
  not a measurement). Over sf0.1's 30 words nearly every 3-gram is shared with
  the benchmark holdout (doc_id % 97 == 0): on sf0.1 itself the
  `q_curation_funnel` oracle keeps 49 of 5,000 docs after decontamination,
  so the dedup stage would have almost nothing to do. The duplicate shares
  are sf0.1's.

Usage: python3 perfbench/gen.py <workload> <seed> <out_dir>
"""
import hashlib
import json
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
CURATE_VOCAB = VOCAB + sorted({a + b for a in VOCAB for b in VOCAB
                               if a not in ("the", "a") and b not in ("the", "a")})[:370]
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.412, 0.151, 0.149, 0.148, 0.140)
NEAR_DUP_SHARE = 0.0486
EXACT_DUP_SHARE = 0.0016
SF01_DOCS = 5000        # documents rows at sf0.1
SF01_VECS = 2000        # embeddings rows at sf0.1
EMBED_DIM = 64

WORKLOADS = ("extract", "retrieve", "curate")


def _rng(workload, seed):
    # independent streams per workload, all a pure function of the seed
    tag = int.from_bytes(hashlib.sha256(workload.encode()).digest()[:4], "little")
    return np.random.default_rng([int(seed), tag])


def _salad(rng, n, vocab):
    lens = rng.integers(10, 100, size=n)
    toks = rng.integers(0, len(vocab), size=int(lens.sum()))
    out, pos = [], 0
    for k in lens:
        out.append(" ".join(vocab[t] for t in toks[pos:pos + k]))
        pos += k
    return out


def _texts(rng, n, vocab=VOCAB):
    """n sf0.1-shaped texts: word salad with sf0.1's shares of near
    duplicates (another text + " dup") and exact duplicates, in seeded
    positions. Returns (texts, exact duplicates, near duplicates)."""
    n_near = round(n * NEAR_DUP_SHARE)
    n_exact = round(n * EXACT_DUP_SHARE)
    texts = _salad(rng, n - n_near - n_exact, vocab)
    src = rng.choice(len(texts), size=n_near + n_exact, replace=False)
    texts += [texts[i] + " dup" for i in src[:n_near]] + [texts[i] for i in src[n_near:]]
    return [texts[i] for i in rng.permutation(n)], n_exact, n_near


def _documents(doc_ids, texts, rng):
    n = len(texts)
    ids = np.asarray(doc_ids, dtype=np.int64)
    langs = rng.choice(len(LANGS), size=n, p=LANG_P)
    return pa.table({
        "doc_id": pa.array(ids),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[i] for i in langs], pa.string()),
        "source": pa.array([f"src{i % 20}" for i in ids.tolist()], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _unique_ids(rng, n):
    """n distinct non-negative int64 doc ids spread over 2^40."""
    ids = np.unique(rng.integers(0, 1 << 40, size=n + n // 8 + 16))
    rng.shuffle(ids)
    assert len(ids) >= n
    return ids[:n]


def extract_tables(seed):
    rng = _rng("extract", seed)
    texts, _, _ = _texts(rng, SF01_DOCS)
    ids = _unique_ids(rng, len(texts))
    return {"documents": _documents(ids, texts, rng)}, {}


def retrieve_tables(seed):
    rng = _rng("retrieve", seed)
    texts, _, _ = _texts(rng, SF01_DOCS)
    # permuted ids: vec_id 0 (the query vector) and every tie-break move with the seed
    doc_ids = rng.permutation(SF01_DOCS)
    vec_ids = rng.permutation(SF01_VECS)
    emb = rng.standard_normal((SF01_VECS, EMBED_DIM))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    embeddings = pa.table({
        "vec_id": pa.array(vec_ids.astype(np.int64)),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, size=SF01_VECS).astype(np.int32)),
    })
    return {"documents": _documents(doc_ids, texts, rng), "embeddings": embeddings}, {}


def curate_tables(seed):
    rng = _rng("curate", seed)
    n = SF01_DOCS
    texts, n_exact, n_near = _texts(rng, n, CURATE_VOCAB)
    ids = _unique_ids(rng, n)
    return {"documents": _documents(ids, texts, rng)}, {
        "exact_dup_share": n_exact / n, "near_dup_share": n_near / n}


TABLES = {"extract": extract_tables, "retrieve": retrieve_tables, "curate": curate_tables}


def generate(workload, seed, out_dir):
    """Write the workload's tables under out_dir (atomically) and return the
    manifest: per-file rows, bytes and sha256, plus the workload's mix."""
    manifest_path = os.path.join(out_dir, "manifest.json")
    if os.path.exists(manifest_path):
        with open(manifest_path) as f:
            return json.load(f)
    tables, mix = TABLES[workload](seed)
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    files = {}
    for name, tbl in tables.items():
        path = os.path.join(tmp, f"{name}.parquet")
        pq.write_table(tbl, path, compression="snappy")
        with open(path, "rb") as f:
            digest = hashlib.sha256(f.read()).hexdigest()
        files[name] = {"rows": tbl.num_rows, "bytes": os.path.getsize(path), "sha256": digest}
    manifest = {"workload": workload, "seed": int(seed), "files": files, **mix}
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(os.path.dirname(os.path.abspath(out_dir)), exist_ok=True)
    os.rename(tmp, out_dir)
    return manifest


if __name__ == "__main__":
    if len(sys.argv) != 4 or sys.argv[1] not in WORKLOADS:
        sys.exit(f"usage: gen.py {{{'|'.join(WORKLOADS)}}} <seed> <out_dir>")
    print(json.dumps(generate(sys.argv[1], int(sys.argv[2]), sys.argv[3]), sort_keys=True))
