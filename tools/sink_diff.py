#!/usr/bin/env python3
"""Compare two Parquet sink directories by what they hold, not by bytes.

    tools/sink_diff.py A B

Both directories are searched for Parquet part files (`part-*`). A file's
table is its parent directory relative to A or B, so `data/`,
`adversarial/` and `batch_id=N/` partitions are compared one by one. For
every table both sides must have:

  - the same footer schema (column paths, physical and logical types, and
    definition levels, i.e. required vs optional);
  - the same key-value metadata;
  - the same compression codec on every column chunk;
  - the same set of encodings on each column;
  - the same row count, and the same null count in each column;
  - the same rows, as a multiset: each row is hashed over all its values,
    so file boundaries and row order do not matter.

File bytes are never compared: Spark writes footers that differ byte for
byte across JVMs for the same rows. Prints every difference and exits 1 if
there is one, else prints a summary per table and exits 0.
"""
import sys
from collections import defaultdict
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq


def part_files(root):
    return sorted(p for p in root.rglob("part-*")
                  if p.is_file() and not any(s.startswith(("_", ".")) for s in p.relative_to(root).parts))


def column_sig(c):
    return (c.path, c.physical_type, str(c.logical_type), c.max_definition_level, c.max_repetition_level)


def describe(root):
    """table -> its footer facts, row count, null counts and sorted row hashes."""
    tables = defaultdict(lambda: {"schemas": set(), "kv": set(), "codecs": set(),
                                  "encodings": defaultdict(set), "files": 0, "parts": []})
    for f in part_files(root):
        t = tables[str(f.parent.relative_to(root))]
        pf = pq.ParquetFile(f)
        md = pf.metadata
        s = pf.schema
        t["schemas"].add(tuple(column_sig(s.column(i)) for i in range(len(s))))
        t["kv"].add(frozenset((md.metadata or {}).items()))
        for r in range(md.num_row_groups):
            rg = md.row_group(r)
            for c in range(rg.num_columns):
                ch = rg.column(c)
                t["codecs"].add(ch.compression)
                t["encodings"][ch.path_in_schema].update(ch.encodings)
        t["files"] += 1
        t["parts"].append(pf.read())
    out = {}
    for name, t in tables.items():
        table = pa.concat_tables(t["parts"]) if t["parts"] else None
        df = table.to_pandas() if table is not None else pd.DataFrame()
        hashes = np.sort(pd.util.hash_pandas_object(df, index=False).to_numpy()) if len(df) else np.array([])
        out[name] = {
            "schemas": t["schemas"], "kv": t["kv"], "codecs": t["codecs"],
            "encodings": {k: frozenset(v) for k, v in t["encodings"].items()},
            "rows": table.num_rows if table is not None else 0,
            "nulls": {n: table.column(n).null_count for n in table.column_names} if table is not None else {},
            "hashes": hashes, "files": t["files"],
        }
    return out


def diff(a, b):
    problems = []
    for name in sorted(set(a) | set(b)):
        if name not in a or name not in b:
            problems.append(f"{name}: only in {'B' if name not in a else 'A'}")
            continue
        x, y = a[name], b[name]
        if len(x["schemas"]) != 1 or len(y["schemas"]) != 1:
            problems.append(f"{name}: {len(x['schemas'])} vs {len(y['schemas'])} distinct footer schemas")
        for key in ("schemas", "kv", "codecs", "rows"):
            if x[key] != y[key]:
                problems.append(f"{name}: {key} differ")
        for col in sorted(set(x["encodings"]) | set(y["encodings"])):
            ex, ey = x["encodings"].get(col), y["encodings"].get(col)
            if ex != ey:
                problems.append(f"{name}: encodings of {col}: {sorted(ex or [])} vs {sorted(ey or [])}")
        if x["nulls"] != y["nulls"]:
            cols = [c for c in x["nulls"] if x["nulls"][c] != y["nulls"].get(c)]
            problems.append(f"{name}: null counts differ in {len(cols)} columns, first {cols[:3]}")
        if not np.array_equal(x["hashes"], y["hashes"]):
            problems.append(f"{name}: row contents differ")
    return problems


def main(argv):
    if len(argv) != 3:
        print(__doc__.split("\n\n")[1].strip(), file=sys.stderr)
        return 2
    a, b = (describe(Path(p)) for p in argv[1:])
    if not a and not b:
        print("no part files on either side", file=sys.stderr)
        return 1
    problems = diff(a, b)
    for p in problems:
        print(p)
    if problems:
        return 1
    for name, t in sorted(a.items()):
        cols = len(next(iter(t["schemas"])))
        print(f"{name}: same ({t['rows']} rows, {cols} columns, codecs {sorted(t['codecs'])}; "
              f"files A {t['files']}, B {b[name]['files']})")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
