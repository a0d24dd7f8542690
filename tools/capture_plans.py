"""Capture .explain("formatted") for bench queries into plans/<tag>/.

Usage: python tools/capture_plans.py <tag> [suffix] [name ...]

Writes ``plans/<tag>/<query>_<suffix>.txt`` (suffix default "before")
for every named query (default: every bench query that is cheap to
PLAN — the eager loop-style extras ``stream_curation_ingest[_audit]``
execute their loop at construction time, so they are skipped unless
named explicitly). Every run also writes the two representative
against-history micro-batch plans of those loops
(``stream_curation_ingest*__batch_plan``, see
``bench._stream_batch_plan_frames``), which share the curation gates
with ``curation_e2e``. The files are the optimization round's
evidence trail: plan claims (Exchange counts, join strategies,
PushedFilters) are checked against these captures and the code. The
data directory and the temp root are written as ``<sf_dir>`` and
``<tmp>`` so captures from different checkouts diff cleanly.
"""

from __future__ import annotations

import io
import os
import sys
import tempfile
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

EAGER = {"stream_curation_ingest", "stream_curation_ingest_audit"}


def main() -> None:
    tag = sys.argv[1] if len(sys.argv) > 1 else "r16"
    suffix = sys.argv[2] if len(sys.argv) > 2 else "before"
    names = sys.argv[3:]

    import bench
    from big_data_bowl___2023_spark import registry
    from big_data_bowl___2023_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    qs = dict(registry.all_queries())
    qs.update(bench._extra_ops())
    if not names:
        names = [n for n in bench.HEADLINE if n in qs]
        names += [n for n in bench._extra_ops() if n not in EAGER]

    out_dir = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "plans", tag)
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("capture-plans")

    def write_plan(name: str, df) -> None:
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        text = (buf.getvalue().replace(sf_dir.rstrip("/"), "<sf_dir>")
                .replace(tempfile.gettempdir(), "<tmp>"))
        with open(path, "w") as fh:
            fh.write(text)
        print(f"wrote {path}")

    for name in names:
        try:
            write_plan(name, qs[name](spark, sf_dir))
        except Exception as exc:  # noqa: BLE001 — capture what we can
            print(f"SKIP {name}: {exc}")
    # the eager foreachBatch loops have no terminal plan; capture the
    # representative against-history micro-batch frames instead
    # (VERDICT r16 #7 — plans/<tag>/stream_curation_ingest*__batch_plan)
    import shutil

    try:
        frames, tmp = bench._stream_batch_plan_frames(spark, sf_dir)
        try:
            for name, df in frames.items():
                write_plan(name, df)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    except Exception as exc:  # noqa: BLE001
        print(f"SKIP stream batch plans: {exc}")
    spark.stop()


if __name__ == "__main__":
    main()
