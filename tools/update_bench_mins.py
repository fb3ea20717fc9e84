"""Refresh BENCH_MINS.json — the per-gate clean-minimum reference
bench.py's outlier self-adjudication compares against (see bench.py's
module docstring, round-14 revision).

For every gate it takes the MINIMUM positive reading found across:

* the current ``BENCH_MINS.json`` itself, so a refresh only ever
  lowers a reference (an artifact that held a gate's old minimum may
  have been replaced since),
* ``BENCH_local.json`` (the most recent full-roster run's 3-decimal
  detail, including any ``requeried`` solo readings), and
* the ``parsed.queries`` maps of every committed driver artifact
  ``BENCH_r*.json`` (those lines only carry the slow gates plus
  collapsed ``_fast_total``/``_rest_total`` pseudo-entries, which are
  skipped).

A min over many windows is robust to any single dirty window: one
clean reading anywhere in history pins the reference. Run at round
close AFTER the round's bench, then commit the refreshed file:

    python tools/update_bench_mins.py
"""

from __future__ import annotations

import glob
import json
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SKIP = {"_fast_total", "_rest_total"}


def collect_mins() -> dict[str, float]:
    mins: dict[str, float] = {}

    def feed(qmap: dict) -> None:
        for k, v in (qmap or {}).items():
            if k in SKIP:
                continue
            try:
                fv = float(v)
            except (TypeError, ValueError):
                continue
            if fv <= 0:
                continue
            if k not in mins or fv < mins[k]:
                mins[k] = fv

    try:
        with open(os.path.join(REPO, "BENCH_MINS.json")) as f:
            feed(json.load(f))
    except (OSError, json.JSONDecodeError):
        pass

    local = os.path.join(REPO, "BENCH_local.json")
    try:
        with open(local) as f:
            d = json.load(f)
        feed(d.get("queries"))
        for q, rec in (d.get("requeried") or {}).items():
            if isinstance(rec, dict) and rec.get("solo"):
                feed({q: rec["solo"]})
    except (OSError, json.JSONDecodeError):
        pass

    for path in sorted(glob.glob(os.path.join(REPO, "BENCH_r*.json"))):
        try:
            with open(path) as f:
                d = json.load(f)
        except (OSError, json.JSONDecodeError):
            continue
        parsed = d.get("parsed")
        if isinstance(parsed, dict):
            feed(parsed.get("queries"))

    return {k: round(v, 3) for k, v in sorted(mins.items())}


def main() -> None:
    mins = collect_mins()
    out = os.path.join(REPO, "BENCH_MINS.json")
    with open(out, "w") as f:
        json.dump(mins, f, indent=1)
        f.write("\n")
    print(f"BENCH_MINS.json: {len(mins)} gates")


if __name__ == "__main__":
    main()
