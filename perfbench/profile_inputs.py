#!/usr/bin/env python3
"""Shape of a directory of benchmark input tables, for comparing the
generated inputs with graft's test data.

    python3 perfbench/profile_inputs.py DIR [DIR ...]

For each table in DIR it prints the row count, the parquet type of each
column and the distinct count of each key column; for `documents` also
the word-count quartiles, the vocabulary size, the number of docs that
end in " dup", and the number of exact-duplicate text pairs. Run
`python3 perfbench/gen.py OUT_DIR` first to write the generated tables
at the test data's full sf 0.1 size.
"""
import collections
import glob
import os
import statistics
import sys

import pyarrow.compute as pc
import pyarrow.parquet as pq

KEYS = {"customer": ["c_custkey", "c_nationkey"],
        "orders": ["o_orderkey", "o_custkey"],
        "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
        "events": ["event_id", "user_id", "event_type"],
        "documents": ["doc_id", "lang", "source"],
        "embeddings": ["vec_id", "label"]}


def documents(table):
    texts = table.column("text").to_pylist()
    words = [t.split() for t in texts]
    counts = collections.Counter(texts)
    q = statistics.quantiles([len(w) for w in words], n=4)
    return {"words_q1_med_q3": [round(x, 1) for x in q],
            "words_min_max": [min(map(len, words)), max(map(len, words))],
            "vocabulary": len({w for ws in words for w in ws}),
            "ends_dup": sum(t.endswith(" dup") for t in texts),
            "exact_dup_pairs": sum(n * (n - 1) // 2 for n in counts.values())}


def profile(d):
    print(f"== {d}")
    for path in sorted(glob.glob(os.path.join(d, "*.parquet"))):
        name = os.path.basename(path)[:-len(".parquet")]
        f = pq.ParquetFile(path)
        table = f.read()
        types = {c.name: str(c.logical_type) if str(c.logical_type) != "None"
                 else c.physical_type for c in f.schema}
        distinct = {k: len(pc.unique(table.column(k))) for k in KEYS.get(name, [])}
        print(f"{name}: rows {table.num_rows}, row groups {f.num_row_groups}, "
              f"distinct {distinct}")
        print(f"  types {types}")
        if name == "documents":
            print(f"  {documents(table)}")


if __name__ == "__main__":
    for arg in sys.argv[1:]:
        profile(arg)
