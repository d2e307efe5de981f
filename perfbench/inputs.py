"""The benchmark's inputs: the repository's reference test tables.

`data/sf0.01/` holds the reference tables at scale factor 0.01 that the
repository's tests and DuckDB oracle check read (TESTDATA.md), byte for
byte; `SHA256SUMS` lists their digests and `reference()` verifies them
before every run. The seed never changes these tables.

`curation_copies(src, dst, k, seed)` derives the copied corpus: k copies of
`documents` and `embeddings`, each copy with its own alphabet rotation on
text, its own sign-flip pattern on vectors and its own id offset, so no copy
duplicates another. The seed picks the rotations and the sign patterns. Each
copy is one parquet row group.
"""
import hashlib
import os
import random
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

REFERENCE = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                         "data", "sf0.01")
COPY_ID_OFFSET = 10_000_000
DIM = 64


def reference(dst):
    """Copies the reference tables into `dst` after checking their digests,
    so nothing a query writes beside its inputs reaches the checkout."""
    os.makedirs(dst, exist_ok=True)
    with open(os.path.join(REFERENCE, "SHA256SUMS")) as fh:
        sums = [line.split() for line in fh if line.strip()]
    for digest, name in sums:
        src = os.path.join(REFERENCE, name)
        with open(src, "rb") as fh:
            if hashlib.sha256(fh.read()).hexdigest() != digest:
                raise ValueError(f"{name} is not the reference table")
        shutil.copyfile(src, os.path.join(dst, name))


def _cipher(r):
    a = "abcdefghijklmnopqrstuvwxyz"
    return str.maketrans(a, a[r:] + a[:r])


def _signs(offset):
    j = np.arange(DIM, dtype=np.int64)
    return np.where(((j * 2654435761 + offset * 40503) & 4) == 0, 1.0, -1.0
                    ).astype(np.float32)


def curation_copies(src, dst, k, seed):
    """`dst` = `src` with documents and embeddings replaced by k copies.
    The other tables are linked, not copied. Copy i gets the i-th of k
    distinct seeded rotations of the alphabet (k <= 26) and the i-th of k
    distinct seeded sign patterns."""
    rng = random.Random(seed)
    rotations = rng.sample(range(26), k)
    sign_offsets = rng.sample(range(1 << 16), k)
    os.makedirs(dst, exist_ok=True)
    for f in os.listdir(src):
        if f not in ("documents.parquet", "embeddings.parquet"):
            target = os.path.join(dst, f)
            if not os.path.exists(target):
                os.link(os.path.join(src, f), target)
    docs = pq.read_table(os.path.join(src, "documents.parquet"))
    texts = docs["text"].to_pylist()
    with pq.ParquetWriter(os.path.join(dst, "documents.parquet"),
                          docs.schema) as w:
        for i in range(k):
            tr = _cipher(rotations[i])
            w.write_table(docs.set_column(0, "doc_id", pc.add(
                docs["doc_id"], i * COPY_ID_OFFSET)).set_column(
                1, "text", pa.array([t.translate(tr) for t in texts])))
    emb = pq.read_table(os.path.join(src, "embeddings.parquet"))
    n = emb.num_rows
    vecs = np.asarray(emb["embedding"].combine_chunks().flatten()
                      ).reshape(n, DIM)
    offsets = pa.array(np.arange(0, n * DIM + 1, DIM, dtype=np.int32))
    with pq.ParquetWriter(os.path.join(dst, "embeddings.parquet"),
                          emb.schema) as w:
        for i in range(k):
            flipped = pa.array((vecs * _signs(sign_offsets[i])).ravel(),
                               pa.float32())
            w.write_table(emb.set_column(0, "vec_id", pc.add(
                emb["vec_id"], i * COPY_ID_OFFSET)).set_column(
                1, "embedding", pa.ListArray.from_arrays(offsets, flipped)))
