"""Compare the generated catalog tables with a reference set of them.

    python3 perfbench/tablecheck.py REF_DIR [--sf 0.1] [--seed 1]

Generates the tables for ``--sf`` and ``--seed`` under
``.perfbench-work/tablecheck`` and prints, per column, the Parquet type and
the distinct count, mean string length or mean value of both sets, plus
the documents' duplicate rates. Exits 1 if a table's row count or a
column's Parquet type differs. Rows are random, so the other figures
should agree closely but not exactly.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import tablegen

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def _column_types(path: str) -> dict[str, str]:
    schema = pq.ParquetFile(path).schema
    return {schema.column(i).path: f"{schema.column(i).physical_type} "
            f"{schema.column(i).logical_type}" for i in range(len(schema))}


def _summary(col: pa.ChunkedArray) -> str:
    if pa.types.is_list(col.type):
        return f"list len mean {pc.mean(pc.list_value_length(col)).as_py():.1f}"
    text = f"distinct {len(pc.unique(col))}"
    if pa.types.is_string(col.type):
        return text + f", length mean {pc.mean(pc.utf8_length(col)).as_py():.1f}"
    if pa.types.is_timestamp(col.type):
        lo, hi = pc.min_max(col).values()
        return text + f", {lo} .. {hi}"
    return text + f", mean {pc.mean(col).as_py():.4g}"


def _duplicates(path: str) -> str:
    texts = pq.read_table(path, columns=["text"]).column("text").to_pylist()
    exact = len(texts) - len(set(texts))
    near = sum(t.endswith(" dup") for t in texts)
    return f"exact duplicates {exact / len(texts):.4f}, near-duplicates {near / len(texts):.4f}"


def compare(ref: str, gen: str) -> list[str]:
    """Print the side-by-side summary; return the hard mismatches."""
    bad = []
    for t in TABLES:
        rp, gp = (os.path.join(d, f"{t}.parquet") for d in (ref, gen))
        rt, gt = pq.read_table(rp), pq.read_table(gp)
        print(f"{t}: rows {rt.num_rows} / {gt.num_rows}")
        if rt.num_rows != gt.num_rows:
            bad.append(f"{t}: {rt.num_rows} rows in the reference, {gt.num_rows} generated")
        rtypes, gtypes = _column_types(rp), _column_types(gp)
        if rtypes != gtypes:
            bad.append(f"{t}: Parquet types {rtypes} in the reference, {gtypes} generated")
        for name in rt.column_names:
            print(f"  {name}: {rtypes.get(name, rtypes.get(name + '.list.element'))}")
            print(f"    reference {_summary(rt.column(name))}")
            print(f"    generated {_summary(gt.column(name))}")
        if t == "documents":
            print(f"  reference {_duplicates(rp)}\n  generated {_duplicates(gp)}")
    return bad


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("ref_dir")
    ap.add_argument("--sf", type=float, default=0.1)
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    gen = os.path.join(os.getcwd(), ".perfbench-work", "tablecheck")
    try:
        tablegen.generate(gen, args.sf, args.seed)
        bad = compare(args.ref_dir, gen)
    finally:
        shutil.rmtree(gen, ignore_errors=True)
    for b in bad:
        print("MISMATCH", b, file=sys.stderr)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
