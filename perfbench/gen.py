"""Seeded input generators for the three benchmark workloads.

Every generator is a pure function of its arguments: the same seed and
size give byte-identical parquet files, a different seed gives
different files.  The program under test only ever sees these files.

  migrate  one parquet file of R points (id, D-dim vector, 2 payload
           fields) in the wire row shape of graft.connectors.wire.WireVdb
  curate   a `documents` table shaped like a crawl: Zipf vocabulary,
           stopwords, exact and near duplicates, 40 sources, token
           lengths on both sides of the curation quality window

The board workload has no generator: it reads the repository's
reference test tables at scale 0.01 (TESTDATA.md: 10 tables, 60 000
lineitem rows, generated once with seed 42), copied byte for byte into
perfbench/data/sf0.01 so that a run reads only its own checkout.  The
seed only orders the board's queries.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Sizes.  A benchmark run is one JVM that must set up, warm up (JIT and
# Spark's codegen cache take 3-4 iterations to settle) and close
# several timed iterations in well under a minute on a 4-core host, so
# that twenty-odd runs of each workload fit in one hour.  Each size is
# the largest that keeps its run there.
MIGRATE_ROWS = 8_000           # export+import ~1.5 s at local[4]
MIGRATE_DIMS = 128             # a common sentence-embedding width
CURATE_DOCS = 8_000            # curate --bpe_merges 200 --pack 512 ~2 s
CURATE_VOCAB = 20_000
CURATE_SOURCES = 40
BOARD_DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                          "data", "sf0.01")

STOPWORDS = ["the", "a", "an", "and", "of", "to", "in", "is", "on", "for"]


def _write(table, path):
    # one row group, no statistics drift: byte-identical for one input
    pq.write_table(table, path, compression="snappy")


def _syllable_words(rng, n):
    """n distinct lowercase pseudo-words of 2-4 syllables."""
    cons = list("bcdfghjklmnprstvwz")
    vows = list("aeiou")
    sylls = np.array([c + v for c in cons for v in vows] +
                     [c + v + "n" for c in cons[:8] for v in vows])
    words, seen = [], set(STOPWORDS)
    while len(words) < n:
        k = rng.integers(2, 5, size=n)
        picks = rng.integers(0, len(sylls), size=(n, 4))
        for i in range(n):
            w = "".join(sylls[picks[i, :k[i]]])
            if w not in seen:
                seen.add(w)
                words.append(w)
                if len(words) == n:
                    break
    return words


def gen_migrate(out_dir, seed, rows=MIGRATE_ROWS, dims=MIGRATE_DIMS):
    """Points with pseudo-random float32 vector components (stored as
    float64 so the wire, VDF and target all carry the same exact value).
    Random mantissas make the VDF parquet incompressible, so the io
    layer pays its real cost (a periodic pattern compresses ~20x)."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    vec = rng.standard_normal((rows, dims), dtype=np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    vec = vec.astype(np.float32).astype(np.float64)
    ids = [f"pt-{seed}-{i}" for i in range(rows)]
    langs = rng.choice(np.array(["en", "de", "fr", "es", "zh"]), size=rows)
    ranks = rng.integers(0, 1_000_000, size=rows)
    payload = pa.array(
        [[("lang", str(l)), ("rank", str(r))] for l, r in zip(langs, ranks)],
        type=pa.map_(pa.string(), pa.string()))
    vectors = pa.ListArray.from_arrays(
        pa.array(np.arange(0, rows * dims + 1, dims, dtype=np.int32)),
        pa.array(vec.reshape(-1)))
    table = pa.table({"id": pa.array(ids), "vector": vectors,
                      "payload": payload})
    _write(table, os.path.join(out_dir, "points.parquet"))
    return rows


def gen_curate(out_dir, seed, docs=CURATE_DOCS, vocab=CURATE_VOCAB,
               sources=CURATE_SOURCES):
    """A crawl-like `documents` table.  Shares are per document:
    ~25% exact duplicates (re-cased / re-spaced, so they collide only
    after the pipeline's trim/lower fingerprint), ~10% near duplicates
    (one word replaced), ~12% stopword tokens, word counts 4-44 so the
    learned-BPE token counts fall on both sides of the 20-80 window."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)
    words = np.array(_syllable_words(rng, vocab))
    zipf = 1.0 / np.arange(1, vocab + 1) ** 1.1
    zipf /= zipf.sum()
    stop = np.array(STOPWORDS)
    lengths = rng.integers(4, 45, size=docs)
    total = int(lengths.sum())
    toks = words[rng.choice(vocab, size=total, p=zipf)]
    is_stop = rng.random(total) < 0.12
    toks[is_stop] = stop[rng.integers(0, len(stop), size=int(is_stop.sum()))]
    offs = np.concatenate([[0], np.cumsum(lengths)])
    texts = [" ".join(toks[offs[i]:offs[i + 1]]) for i in range(docs)]
    kind = rng.random(docs)
    src_of = rng.integers(0, docs, size=docs)
    for i in range(1, docs):
        j = int(src_of[i]) % i
        if kind[i] < 0.25:                         # exact duplicate
            t = texts[j]
            texts[i] = t.upper() if kind[i] < 0.05 else "  " + t + " "
        elif kind[i] < 0.35:                       # near duplicate
            ws = texts[j].split(" ")
            ws[int(rng.integers(0, len(ws)))] = str(words[rng.integers(0, vocab)])
            texts[i] = " ".join(ws)
    table = pa.table({
        "doc_id": pa.array(np.arange(docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(np.array(["en", "de", "fr", "es", "zh"]),
                                    size=docs)),
        "source": pa.array([f"src{s}" for s in
                            rng.integers(0, sources, size=docs)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })
    _write(table, os.path.join(out_dir, "documents.parquet"))
    return docs


GENERATORS = {"migrate": gen_migrate, "curate": gen_curate}
