"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` mirror on
DuckDB over the same parquet, then compares row count, column names, and an
order-insensitive value hash. Usage:

    python tools/oracle_check.py [sf_dir] [query ...]

Defaults to /root/testdata/sf0.01 and all registered queries.
"""

from __future__ import annotations

import hashlib
import math
import os
import re
import sys
import time
from datetime import date, datetime

import duckdb

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from ethical_data_ingestion_spark.schemas import FIXTURE_TABLES  # noqa: E402
from ethical_data_ingestion_spark.session import get_spark  # noqa: E402


def _norm_cell(v: object) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # normalize -0.0; full precision (repr) so divergences the driver's
        # stricter gate would catch are not masked by %.6g truncation
        if v == 0:
            v = 0.0
        return repr(v)
    if isinstance(v, datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm_cell(x) for x in v) + "]"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def value_hash(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    normed = sorted("|".join(_norm_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in normed:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def _capture_stderr() -> tuple[int, str]:
    """Tee the process-level fd 2 into a temp file BEFORE the JVM starts,
    so Spark's log4j output (HintErrorLogger etc.) is inspectable at the
    end of the run. Returns (original stderr fd, capture path); the
    captured bytes are replayed to the original stderr on exit so outer
    ``2>file`` redirects still see everything."""
    import tempfile

    f = tempfile.NamedTemporaryFile(
        prefix="oracle_stderr_", suffix=".log", delete=False
    )
    orig = os.dup(2)
    os.dup2(f.fileno(), 2)
    return orig, f.name


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    orig_err, err_path = _capture_stderr()
    try:
        return _checked_run(sf_dir, only, err_path)
    finally:
        # restore fd 2 and replay the captured bytes EVEN ON A CRASH —
        # before this finally existed, a failure ahead of the replay
        # lost the whole Spark/JVM stderr stream (round-11 ADVICE)
        sys.stderr.flush()
        try:
            os.dup2(orig_err, 2)
            with open(err_path, "rb") as fh:
                os.write(2, fh.read())
        except OSError:
            pass


def _checked_run(sf_dir: str, only: set, err_path: str) -> int:
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()

    spark = get_spark(
        "oracle_check", extra_conf={"spark.ui.showConsoleProgress": "false"}
    )
    def _connect():
        con = duckdb.connect()
        # large-SF runs: bound DuckDB's memory next to the Spark JVM and
        # let it SPILL instead of dying (the sf1 gate OOM'd the box
        # otherwise)
        mem = os.environ.get("SPARK_GRAFT_DUCKDB_MEM")
        if mem:
            con.execute(f"SET memory_limit='{mem}'")
            spill = os.environ.get(
                "SPARK_GRAFT_DUCKDB_TMP", os.path.join(ROOT, ".scratch", "duckdb_spill")
            )
            os.makedirs(spill, exist_ok=True)
            con.execute(f"SET temp_directory='{spill}'")
        thr = os.environ.get("SPARK_GRAFT_DUCKDB_THREADS")
        if thr:
            con.execute(f"SET threads={int(thr)}")
        for t in FIXTURE_TABLES:
            con.execute(
                # single-file fixtures and Spark directory tables both work
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet"
                + ("/*.parquet')" if os.path.isdir(f"{sf_dir}/{t}.parquet") else "')")
            )
        return con

    con = _connect()

    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {e}")
            failures.append(name)
            continue
        spark_s = time.time() - t0

        if name not in oracles:
            print(f"rows  {name}: {len(srows)} rows (no oracle; rows-only) [{spark_s:.1f}s]")
            if len(srows) == 0:
                print(f"  WARN {name}: 0 rows")
            continue

        try:
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = [tuple(r) for r in res.fetchall()]
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {e}")
            failures.append(name)
            # a failed (esp. OOM'd) query can leave the connection's
            # buffers wedged and poison every later query — reconnect
            con.close()
            con = _connect()
            continue

        problems = []
        if len(srows) != len(orows):
            problems.append(f"rowcount spark={len(srows)} oracle={len(orows)}")
        if sorted(scols) != sorted(ocols):
            problems.append(f"schema spark={sorted(scols)} oracle={sorted(ocols)}")
        else:
            sh, oh = value_hash(scols, srows), value_hash(ocols, orows)
            if sh != oh:
                problems.append(f"hash spark={sh} oracle={oh}")
        if problems:
            print(f"FAIL  {name}: {'; '.join(problems)} [{spark_s:.1f}s]")
            failures.append(name)
            # show a tiny diff sample
            sset = {tuple(_norm_cell(v) for v in r) for r in srows}
            oset = {tuple(_norm_cell(v) for v in r) for r in orows}
            for label, diff in (("spark-only", sset - oset), ("oracle-only", oset - sset)):
                for row in list(diff)[:3]:
                    print(f"    {label}: {row}")
        else:
            print(f"OK    {name}: {len(srows)} rows [{spark_s:.1f}s]")

    # plan-hygiene gate: a discarded join hint (HintErrorLogger WARN)
    # means a plan does not say what it means — fail loudly (round-10
    # verdict item 5)
    sys.stderr.flush()
    try:
        with open(err_path, "rb") as fh:
            data = fh.read()
        # match the actual log4j WARN line ("... WARN HintErrorLogger:"),
        # not any stray mention of the logger name in other output
        hint_lines = sorted(
            {
                ln.strip()
                for ln in data.decode(errors="replace").splitlines()
                if re.search(r"\bWARN\s+(?:[\w.]*\.)?HintErrorLogger\b", ln)
            }
        )
    except OSError:
        hint_lines = []
    if hint_lines:
        print(f"HINTFAIL  {len(hint_lines)} distinct discarded-hint warnings:")
        for ln in hint_lines[:10]:
            print(f"    {ln}")
        failures.append("<discarded-join-hints>")

    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
