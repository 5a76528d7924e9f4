#!/usr/bin/env python3
"""Self-test of the benchmark's output checks.

Copies the real outputs of the last import_tweets and llm_pipeline_mix runs,
damages each copy in one way, and shows that the checks fail on every
damaged copy and pass on the undamaged ones. Damage cases:
  drop_row        one row removed from one import file
  wrong_partition one row moved into another year/month partition
  alter_text      one tweet_text value changed
  alter_result    one value of an oracle-checked query result changed (q30)
  alter_score     one score of an engine-only query result changed (q114)
  unsorted_file   one import file's rows put out of tweetid order
The order check is also run on a copy of the import whose files are sorted
by tweetid, which must pass.

Usage (after one run of each of those two workloads):
  python3 perfbench/selftest.py
Exits 0 when every case behaves as expected.
"""
import json
import shutil
import sys
from pathlib import Path

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

BENCH = Path(__file__).resolve().parent
sys.path.insert(0, str(BENCH))
import checks  # noqa: E402
import run  # noqa: E402

OUT = run.WORK / "out"
SCRATCH = run.WORK / "selftest"


def fresh_copy(src, name):
    dst = SCRATCH / name
    shutil.rmtree(dst, ignore_errors=True)
    shutil.copytree(src, dst)
    return dst


def rewrite(path, fn):
    """Replace the parquet file at `path` by fn(its table)."""
    t = fn(pq.read_table(path))
    path.unlink()
    pq.write_table(t, path)


def set_value(table, column, row, value):
    col = table.column(column).to_pylist()
    col[row] = value
    i = table.schema.get_field_index(column)
    return table.set_column(i, table.schema.field(i), pa.array(col, table.schema.field(i).type))


def main():
    rounds = sorted((OUT / "import_tweets").glob("[0-9]*"), key=lambda p: int(p.name))
    mix = OUT / "llm_pipeline_mix"
    source = OUT / "import_tweets.source"
    if not (rounds and mix.exists() and source.exists()):
        raise SystemExit("run import_tweets and llm_pipeline_mix once first")
    imp = rounds[-1]
    expect = json.loads((Path(source.read_text()) / "expect.json").read_text())
    tables = run.tables_dir()
    SCRATCH.mkdir(parents=True, exist_ok=True)

    def import_check(d):
        return checks.check_import("import_tweets", d, expect)

    def mix_check(d):
        return checks.check_mix(d, tables, run.MIX_QUERIES)

    files = sorted(imp.rglob("*.parquet"))
    first, other = files[0].relative_to(imp), files[-1].relative_to(imp)
    cases = []

    d = fresh_copy(imp, "drop_row")
    rewrite(d / first, lambda t: t.slice(1))
    cases.append(("drop_row", import_check(d), True))

    d = fresh_copy(imp, "wrong_partition")
    moved = pq.read_table(d / first).slice(0, 1)
    rewrite(d / first, lambda t: t.slice(1))
    rewrite(d / other, lambda t: pa.concat_tables([t, moved.select(t.schema.names).cast(t.schema)]))
    cases.append(("wrong_partition", import_check(d), True))

    d = fresh_copy(imp, "alter_text")
    rewrite(d / first, lambda t: set_value(t, "tweet_text", 0, t.column("tweet_text")[0].as_py() + "!"))
    cases.append(("alter_text", import_check(d), True))

    d = fresh_copy(mix, "alter_result")
    f = next(d.glob("q30_*/*.parquet"))
    rewrite(f, lambda t: set_value(t, "label", 0, t.column("label")[0].as_py() + 1))
    cases.append(("alter_result", mix_check(d), True))

    d = fresh_copy(mix, "alter_score")
    f = next(d.glob("q114_*/*.parquet"))
    rewrite(f, lambda t: set_value(t, "score", 0, t.column("score")[0].as_py() + 1e-4))
    cases.append(("alter_score", mix_check(d), True))

    cases.append(("import_tweets undamaged", import_check(imp), False))
    cases.append(("llm_pipeline_mix undamaged", mix_check(mix), False))

    d = fresh_copy(imp, "sorted_files")
    for f in sorted(d.rglob("*.parquet")):
        rewrite(f, lambda t: t.take(pc.sort_indices(t, [("tweetid", "ascending")])))
    cases.append(("import copy with sorted files", checks.unsorted_files(d), False))
    d2 = fresh_copy(d, "unsorted_file")
    f = sorted(d2.rglob("*.parquet"))[0]
    rewrite(f, lambda t: t.take(pc.sort_indices(t, [("tweetid", "descending")])))
    cases.append(("unsorted_file", checks.unsorted_files(d2), True))

    ok = True
    for name, problems, should_fail in cases:
        good = bool(problems) == should_fail
        ok &= good
        verdict = "fails" if problems else "passes"
        print(f"{'OK ' if good else 'BAD'} {name}: check {verdict}"
              + (f" ({problems[0][:110]})" if problems else ""))
    shutil.rmtree(SCRATCH, ignore_errors=True)
    print("self-test", "passed" if ok else "FAILED")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
