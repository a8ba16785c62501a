"""Capture .explain("formatted") for bench headline keys into plans/ROUND/.

Usage:
    python tools/plans.py r18 before            # all headline keys
    python tools/plans.py r18 after q_agg_basic q_filter_basic ...
"""

from __future__ import annotations

import io
import re
import sys
from contextlib import redirect_stdout
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

SF_DIR = "/root/testdata/sf0.001"
USAGE = "usage: plans.py ROUND before|after [keys...]"


def main() -> None:
    import __spark_entry__ as entrymod
    from bench import HEADLINE
    from bossarrowstorageengine_spark.session import build_session

    if len(sys.argv) < 3 or not re.fullmatch(r"r\d+", sys.argv[1]):
        raise SystemExit(f"{USAGE} (ROUND like r18)")
    rnd, tag = sys.argv[1], sys.argv[2]
    # Validate the tag so a key passed in its place isn't silently treated
    # as a tag capturing ALL keys.
    if tag not in ("before", "after"):
        raise SystemExit(f"{USAGE} (got tag {tag!r})")
    keys = sys.argv[3:] or HEADLINE
    unknown = [k for k in keys if k not in HEADLINE]
    if unknown:
        raise SystemExit(f"not headline keys: {unknown}")
    outdir = REPO / "plans" / rnd
    outdir.mkdir(parents=True, exist_ok=True)

    spark = build_session(f"plans-{rnd}")
    qs = entrymod.queries()
    for name in keys:
        df = qs[name](spark, SF_DIR)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        (outdir / f"{name}_{tag}.txt").write_text(buf.getvalue())
        print(f"wrote {name}_{tag}.txt ({len(buf.getvalue())} bytes)")


if __name__ == "__main__":
    main()
