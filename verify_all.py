"""Publish the FULL correctness suite as an auditable artifact.

The external driver's CORRECTNESS_r{N}.json records only the first 50
``queries()`` entries (see ppack_spark/plans/board.py), so the board is
a rotating window. This script replays the same Spark-vs-DuckDB compare
over EVERY registered gate at the driver's scale (sf0.01) and writes
``CORRECTNESS_full.json`` next to the round artifacts — the standing
record for the ~70 gates currently off-board.

Row format mirrors the driver's: rows_match / schema_match /
hash_match / spark_rows / oracle_rows / err, with ``hash_match``
computed as order-insensitive value equality after 6-decimal float
rounding PLUS pandas dtype-kind parity (the driver's hash is
dtype-sensitive — a DuckDB HUGEINT arriving as float64 where Spark
returns bigint is a mismatch even when every value is equal).

Usage: ``python verify_all.py [sf_dir] [out_path]``
(``SPARK_GRAFT_VERIFY_ONLY=a,b,c`` restricts to named gates for
targeted re-verification; such runs print but do NOT overwrite the
full-census artifact unless an explicit out_path is given.)

Census freshness is MECHANICAL (round-9 verdict item 6 — a stale
"full" census is how the round-7 red bar hid):

* a full-census run REFUSES to start if the working tree has
  uncommitted changes under ``ppack_spark/`` or ``__spark_entry__.py``
  (the artifact would describe code no commit holds), and stamps the
  artifact with the HEAD commit it ran at; a ``SPARK_GRAFT_VERIFY_ONLY``
  run is not a census, so it runs on a dirty tree and stamps
  ``census_commit: null``;
* ``python verify_all.py --check [artifact...]`` asserts that NO
  engine file changed between each artifact's stamped commit and the
  current HEAD (``git diff --name-only <census_commit>..HEAD --
  ppack_spark __spark_entry__.py``) and that the tree is clean — run
  it at round close; it exits 1 loudly on staleness.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import duckdb
import pandas as pd

REPO = os.path.dirname(os.path.abspath(__file__))

# the files whose behavior a census attests to
ENGINE_PATHS = ["ppack_spark", "__spark_entry__.py"]


def _git(*args: str) -> str:
    return subprocess.run(
        ["git", *args], cwd=REPO, capture_output=True, text=True, check=True
    ).stdout.strip()


def _engine_dirty() -> list[str]:
    out = _git("status", "--porcelain", "--", *ENGINE_PATHS)
    return [line for line in out.splitlines() if line.strip()]


def check_freshness(artifacts: list[str]) -> int:
    """Exit-code style check: 0 iff every artifact's stamped census
    commit still matches HEAD for the engine paths AND the tree is
    clean. Artifacts without a stamp (pre-round-9) are reported stale."""
    rc = 0
    dirty = _engine_dirty()
    if dirty:
        print(f"STALE: uncommitted engine changes: {dirty}")
        rc = 1
    head = _git("rev-parse", "HEAD")
    for path in artifacts:
        try:
            with open(os.path.join(REPO, path)) as f:
                commit = json.load(f).get("census_commit")
        except (OSError, json.JSONDecodeError) as exc:
            print(f"STALE: {path}: unreadable ({exc})")
            rc = 1
            continue
        if not commit:
            print(f"STALE: {path}: no census_commit stamp")
            rc = 1
            continue
        try:
            changed = _git(
                "diff", "--name-only", f"{commit}..{head}", "--", *ENGINE_PATHS
            ).splitlines()
        except subprocess.CalledProcessError:
            # Force-push / rebase / shallow clone can orphan the stamped
            # commit; that's a STALE verdict, not a traceback.
            print(f"STALE: {path}: stamped commit {commit[:9]} not in history")
            rc = 1
            continue
        if changed:
            print(f"STALE: {path} (census at {commit[:9]}): engine files "
                  f"changed since: {changed}")
            rc = 1
        else:
            print(f"ok   {path}: census at {commit[:9]}, engine unchanged at HEAD")
    return rc

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def compare(got: pd.DataFrame, want: pd.DataFrame) -> dict:
    rows_match = len(got) == len(want)
    schema_match = sorted(got.columns) == sorted(want.columns)
    hash_match = False
    if rows_match and schema_match:
        cols = sorted(got.columns)
        g, w = got[cols].copy(), want[cols].copy()
        kinds_ok = all(g[c].dtype.kind == w[c].dtype.kind for c in cols)
        for c in cols:
            if g[c].dtype.kind == "f":
                g[c] = g[c].round(6)
            if w[c].dtype.kind == "f":
                w[c] = w[c].round(6)
        g = g.sort_values(cols, ignore_index=True)
        w = w.sort_values(cols, ignore_index=True)
        try:
            pd.testing.assert_frame_equal(
                g, w, check_dtype=False, check_exact=False, rtol=1e-9, atol=1e-12
            )
            hash_match = kinds_ok
        except AssertionError:
            hash_match = False
    return {
        "rows_match": rows_match,
        "schema_match": schema_match,
        "hash_match": hash_match,
        "spark_rows": len(got),
        "oracle_rows": len(want),
        "err": None,
    }


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out_path = sys.argv[2] if len(sys.argv) > 2 else "CORRECTNESS_full.json"

    only = os.environ.get("SPARK_GRAFT_VERIFY_ONLY")

    # full-census runs must describe a commit: refuse a dirty engine
    # tree (SPARK_GRAFT_ALLOW_DIRTY=1 overrides for local iteration —
    # such artifacts carry no commit stamp and --check flags them).
    # Targeted runs write no full census, so they run on a dirty tree
    # and stamp no commit.
    dirty = _engine_dirty()
    allow_dirty = os.environ.get("SPARK_GRAFT_ALLOW_DIRTY")
    if dirty and not only and not allow_dirty:
        print("REFUSING full census: uncommitted engine changes "
              f"(commit first, or set SPARK_GRAFT_ALLOW_DIRTY=1): {dirty}")
        sys.exit(1)
    census_commit = None if dirty else _git("rev-parse", "HEAD")

    import __spark_entry__ as entry
    from ppack_spark.session import get_spark

    # sf0.1 replays collect ~26M-row pair tables through Arrow — the
    # 1g maxResultSize default aborts the fetch mid-await (this is a
    # verify-harness allowance, not an engine setting: the operators
    # themselves never collect O(pairs) rows)
    spark = get_spark("verify_all", {"spark.driver.maxResultSize": "16g"})
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"create view {t} as select * from "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )
    qs, osql = entry.queries(), entry.oracle_sql()
    if only:
        wanted = set(only.split(","))
        qs = {n: f for n, f in qs.items() if n in wanted}
        if len(sys.argv) <= 2:
            out_path = "CORRECTNESS_partial.json"
    results: dict[str, dict] = {}
    for name, fn in qs.items():
        try:
            got = fn(spark, sf_dir).toPandas()
            if name in osql:
                want = con.execute(osql[name]).df()
                results[name] = compare(got, want)
            else:
                results[name] = {
                    "rows_match": None, "schema_match": None,
                    "hash_match": None, "spark_rows": len(got),
                    "oracle_rows": None, "err": "no_oracle",
                }
        except Exception as exc:  # record, keep going — this is a census
            results[name] = {
                "rows_match": False, "schema_match": False,
                "hash_match": False, "spark_rows": None,
                "oracle_rows": None, "err": f"{type(exc).__name__}: {exc}"[:300],
            }
        r = results[name]
        status = "ok" if (r["hash_match"] or r["err"] == "no_oracle") else "FAIL"
        print(f"{status:4s} {name}", flush=True)
    with open(out_path, "w") as f:
        json.dump(
            {"sf_dir": sf_dir, "census_commit": census_commit, "results": results},
            f,
            indent=1,
        )
    n_oracled = sum(1 for r in results.values() if r["err"] != "no_oracle")
    n_green = sum(1 for r in results.values() if r["hash_match"])
    print(f"\n{n_green}/{n_oracled} oracled gates hash-green, "
          f"{len(results) - n_oracled} no-oracle; wrote {out_path}")


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "--check":
        arts = sys.argv[2:] or ["CORRECTNESS_full.json", "CORRECTNESS_sf0.1.json"]
        sys.exit(check_freshness(arts))
    main()
