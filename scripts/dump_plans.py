"""Dump ``explain("formatted")`` for named corpus entries to files.

Round-10 deliverable plumbing: the optimization round must commit
``plans/r10/<entry>_before.txt`` / ``..._after.txt`` for every query a
plan change touched, so the judge can check plan claims (Exchange
count, join strategy, PushedFilters) without running Spark. "before"
files are generated from a git worktree at the pre-round commit with
this same script.

The session mirrors bench.py's sub-GB static profile (AQE off, tiered
shuffle partitions, 8 MB splits) so the dumped plan is the one the
sf0.1 bench actually executes — with AQE off the static plan IS the
final plan, which makes before/after diffs meaningful.

Usage:
    python scripts/dump_plans.py OUTDIR SUFFIX entry[,entry...] [sf_dir]

Example:
    python scripts/dump_plans.py plans/r10 after \
        c06_three_way_join_agg,c08_semi_join /root/testdata/sf0.1
"""

from __future__ import annotations

import contextlib
import io
import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

OUTDIR = Path(sys.argv[1])
SUFFIX = sys.argv[2]
ENTRIES = [e for e in sys.argv[3].split(",") if e]
SF_DIR = sys.argv[4] if len(sys.argv) > 4 else "/root/testdata/sf0.1"

os.environ.setdefault("GCPDE_SPARK_WAREHOUSE", "/tmp/gcpde_spark_plans_wh")

from gcpde_spark.queries import CORPUS  # noqa: E402
from gcpde_spark.session import build_session  # noqa: E402


def main() -> None:
    OUTDIR.mkdir(parents=True, exist_ok=True)
    input_bytes = sum(p.stat().st_size for p in Path(SF_DIR).glob("*.parquet"))
    confs = {
        "spark.ui.enabled": "false",
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.shuffle.partitions": "4" if input_bytes < (64 << 20) else "16",
        "spark.sql.files.maxPartitionBytes": str(8 << 20),
    }
    spark = build_session(app_name="gcpde_spark_plandump", extra_confs=confs)
    try:
        for name in ENTRIES:
            df = CORPUS[name].build(spark, SF_DIR)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain(mode="formatted")
            path = OUTDIR / f"{name}_{SUFFIX}.txt"
            path.write_text(buf.getvalue())
            print(f"wrote {path}")
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
