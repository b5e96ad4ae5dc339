#!/usr/bin/env python3
"""Record the expected count of every query cell of the benchmark.

    python3 perfbench/record_counts.py

Runs each cell of the query workloads once and writes its `count()` to
perfbench/expected_counts.json. A cell with an oracle is cross-checked
first: its DuckDB oracle over the same corpus must give the same row
count, or nothing is written.
"""
import json
import os
import shutil
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import run  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def main():
    import duckdb

    build.build()
    config = json.loads((run.HERE / "workloads.json").read_text())
    config["corpus"] = os.path.expanduser(config["corpus"])
    workdir = run.ROOT / ".bench_build" / "perfbench" / "counts"
    shutil.rmtree(workdir, ignore_errors=True)
    workdir.mkdir(parents=True)
    cfg_file = workdir / "config.json"
    cfg_file.write_text(json.dumps(config))
    lines, code, _ = run.jvm(
        "perfbench.Main", ["--config", str(cfg_file), "--out-dir", str(workdir / "out"),
                           "--mode", "counts"], run.HEAP, workdir)
    found = [l for l in lines if l.startswith("PERFBENCH_RESULT ")]
    if code != 0 or not found:
        sys.exit(f"record_counts: JVM exited with {code}")
    cells = json.loads(found[-1][len("PERFBENCH_RESULT "):])

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{config['corpus']}/{t}.parquet'")
    bad = []
    for name, c in cells.items():
        if c["oracle"] is None:
            c["checked"] = "no oracle"
            continue
        n = con.sql(f"SELECT count(*) FROM ({c['oracle']})").fetchone()[0]
        c["checked"] = "duckdb oracle"
        if n != c["count"]:
            bad.append(f"{name}: spark {c['count']} vs duckdb {n}")
    if bad:
        sys.exit("record_counts: oracle row counts disagree:\n" + "\n".join(bad))
    out = {k: {"count": c["count"], "checked": c["checked"]} for k, c in sorted(cells.items())}
    (run.HERE / "expected_counts.json").write_text(json.dumps(out, indent=1) + "\n")
    shutil.rmtree(workdir, ignore_errors=True)
    print(f"record_counts: {len(out)} cells, "
          f"{sum(c['checked'] == 'duckdb oracle' for c in out.values())} oracle-checked")


if __name__ == "__main__":
    main()
