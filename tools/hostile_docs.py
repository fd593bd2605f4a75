#!/usr/bin/env python3
"""Write a hostile-text copy of a reference table dir.

Usage: python3 tools/hostile_docs.py <sfDir> [outDir]   (outDir defaults
to target/hostile_docs)

outDir/documents.parquet has the schema of <sfDir>/documents.parquet:
its rows, in order, followed by HOSTILE rows with fresh doc_ids (max
doc_id + 1 onwards). The hostile texts put every whitespace byte of
the token definition (HT LF VT FF CR SP) at an edge, inside, and alone,
and add the code points that look like whitespace or change length
under case mapping but are token characters (NBSP, EM SPACE, NEL, U+0130),
emoji, empty text and null text. The other nine tables are symlinked
from <sfDir>, which is only read. Deterministic: same input, same rows.

Run `graft.Verify <outDir> <out> <queries>` over it, then
`python3 tools/check.py <outDir> <out>`.
"""
import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "embeddings"]

# 25 words so a row can pass the quality filter's 20..80 token window
BODY = ("key agg row scan slow fast table value part hash value table "
        "part a row fast merge batch part value fast spark a line sort")

HOSTILE = [
    "\tfoo bar the",                  # edge tab
    "the cat sat\n",                  # edge newline
    "\r\nwindows line ending\r\n",    # edge CR LF
    "x\x0by and the z",               # interior VT
    "\x0bvt lead and trail\x0b",      # edge VT
    "form\x0cfeed the data",          # interior FF
    "\t",                             # whitespace only: tab
    "\n\t \r",                        # whitespace only: mixed
    "   ",                            # whitespace only: spaces
    "",                               # empty
    None,                             # null
    "nbsp\u00a0joined the word",      # NBSP is a token character
    "em\u2003space and nel\u0085x",   # EM SPACE, NEL are token characters
    "\u0130stanbul \u0130 the CITY",  # U+0130 lowers to two code points
    "emoji \U0001F600 rocket \U0001F680 the",
    "\tthe\tof\tand\tthe\t",          # tab-separated stopwords
    "\t" + BODY + "\n",               # quality-sized, edge tab and newline
    "\t" + BODY + "\n",               # its exact duplicate
    BODY.replace(" ", "\t"),          # same words, tab-separated
    BODY.replace(" ", " \x0b"),       # same words, VT inside every gap
]


def main():
    if len(sys.argv) not in (2, 3):
        sys.exit(__doc__)
    src = os.path.abspath(sys.argv[1])
    out = os.path.abspath(sys.argv[2] if len(sys.argv) == 3
                          else "target/hostile_docs")
    os.makedirs(out, exist_ok=True)
    docs = pq.read_table(os.path.join(src, "documents.parquet"))
    base = max(docs.column("doc_id").to_pylist()) + 1
    rows = {
        "doc_id": [base + i for i in range(len(HOSTILE))],
        "text": HOSTILE,
        "lang": ["en"] * len(HOSTILE),
        "source": [f"src{i % 20}" for i in range(len(HOSTILE))],
        "n_chars": [None if t is None else len(t) for t in HOSTILE],
    }
    extra = pa.table({f.name: pa.array(rows[f.name], f.type)
                      for f in docs.schema}, schema=docs.schema)
    pq.write_table(pa.concat_tables([docs, extra]),
                   os.path.join(out, "documents.parquet"))
    for t in TABLES:
        link = os.path.join(out, f"{t}.parquet")
        if os.path.lexists(link):
            os.remove(link)
        os.symlink(os.path.join(src, f"{t}.parquet"), link)
    print(f"{out}: {docs.num_rows} + {len(HOSTILE)} documents "
          f"(doc_id {base}..{base + len(HOSTILE) - 1})")


if __name__ == "__main__":
    main()
