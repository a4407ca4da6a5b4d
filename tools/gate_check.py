#!/usr/bin/env python
"""Replicate the driver's correctness gate locally: build a VANILLA
SparkSession (no engine session factory — the exact condition that broke
round 1), run every `__spark_entry__.queries()` entry and its
`oracle_sql()` twin at sf0.01, and compare with the driver's semantics
(tests/oracle_harness.compare).

Perf drift gate (VERDICT r5 #7): each entry's wall time is compared
against the last committed baseline (GATECHECK_times.json, keyed by
sf_dir). An entry regressing more than PERF_RATIO x — with an absolute
floor of PERF_FLOOR_SEC so sub-second jitter can't trip it — is
RE-TIMED (up to twice, best sample kept) and flagged only if it still
exceeds the ratio (this host's throughput swings ~2.5x between
identical-code point samples — see COVERAGE.md — so a single
contended sample must not fail the gate). The threshold additionally
scales by the HOST-SPEED ratio: --update-times stores a fixed-work
single-thread cpu marker next to the times (same workload as
bench.py's cpu_marker_sec), and a comparison run multiplies
PERF_RATIO by max(1, marker_now/marker_then) — a box that is
measurably 1.5x slower than when the baseline was taken does not
spray false perf failures over unchanged code (observed r9: two
back-to-back full runs flagged DIFFERENT entries each time).
Confirmed regressions exit nonzero, catching performance drift the
correctness gate can't see.
Flags:

  --no-perf-gate   report ratios but never fail on them (override)
  --update-times   fold this run's timings into the baseline: per-entry
                   clean-run history is kept (newest 5, same sf_dir)
                   and the published threshold is the MEDIAN of the
                   history (VERDICT r16 #3/#8 — a single run is noisy
                   and min-of-runs is an optimistic floor that flags on
                   noise; median-of-clean-runs is the defensible
                   typical cost). Run 2-3 times on an idle host.
  --fresh-times    with --update-times: drop the accumulated history
                   first (use when the code or host changed enough
                   that old samples no longer describe typical cost)
  --tz=ZONE        set spark.sql.session.timeZone (e.g.
                   America/New_York) — VERDICT r6 #4's TZ-robustness
                   mode: the DuckDB oracles are TZ-naive, so a green
                   gate under a non-UTC session TZ proves the catalog
                   is TZ-free by construction (implies --no-perf-gate)
  --conf=K=V       arbitrary session conf for robustness axes, e.g.
                   --conf=spark.sql.execution.arrow.maxRecordsPerBatch=7
                   (exposes Pandas stages assuming batch == partition)
                   or --conf=spark.sql.shuffle.partitions=1 (layout
                   assumptions). Repeatable; implies --no-perf-gate —
                   an axis run is not a perf baseline

Oracle output-type lint (VERDICT r6 #2): every oracle relation's
output types are checked BEFORE the value compare — HUGEINT /
UHUGEINT / DECIMAL columns fail the entry outright (the driver's
hash canonicalization diverges from the builder's on int128/decimal,
the exact class that let a 119/119 self-gate coexist with a 47/50
driver verdict in r6), and DOUBLE columns in an oracle whose SQL
never ROUNDs are reported as warnings.

Usage: python tools/gate_check.py [sf_dir] [only_query ...] [flags]
Exit code 0 iff every entry passes (and, unless overridden, none
regressed past the perf gate).
"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
# Spark's Python workers import the package too, and they read PYTHONPATH
os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.getenv("PYTHONPATH")]))

from pyspark.sql import SparkSession  # noqa: E402

import __spark_entry__ as entry  # noqa: E402
from bench import _cpu_marker_mc_mean, _cpu_marker_samples, settle  # noqa: E402
from data_engineering_bootcamp_spark.session import graft_cpus  # noqa: E402
from tests.oracle_harness import compare, duck_con  # noqa: E402

TIMES_PATH = os.path.join(ROOT, "GATECHECK_times.json")
PERF_RATIO = 2.0      # fail when now > ratio x baseline ...
PERF_FLOOR_SEC = 1.0  # ... and the BASELINE is at least this long
PERF_ABS_SEC = 5.0    # sub-floor entries still flag above this time
# floor semantics (r9): the floor applies to the BASELINE — an entry
# whose baseline is 0.4 s cannot distinguish a code regression from
# +-1 s of scheduler noise (four DIFFERENT sub-second entries tripped
# across three identical-code r9 runs), so ratio-gating it is pure
# noise; a REAL regression on a tiny entry is still caught by the
# absolute cap (0.4 s -> >5 s cannot be jitter on this box)


HOST_FACTOR_CAP = 2.0  # loosen the perf threshold at most this much


def main() -> int:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    # ordered list, not a set: repeated --conf flags must resolve
    # deterministically (and duplicate keys are rejected below)
    flags = [a for a in sys.argv[1:] if a.startswith("--")]
    no_perf_gate = "--no-perf-gate" in flags
    update_times = "--update-times" in flags
    tz = None
    axis_confs: dict[str, str] = {}
    for f in flags:
        if f.startswith("--tz="):
            tz = f.split("=", 1)[1]
            no_perf_gate = True  # non-UTC runs aren't perf baselines
            if update_times:
                # a TZ-robustness pass is not a valid perf baseline
                # either — refuse rather than silently poison ratios
                print("ERROR: --tz and --update-times are mutually "
                      "exclusive (TZ runs are not perf baselines)")
                return 3
        elif f.startswith("--conf="):
            k, _, v = f[len("--conf="):].partition("=")
            if not k or not v:
                print(f"ERROR: malformed {f!r}; want --conf=key=value")
                return 3
            if k in axis_confs:
                print(f"ERROR: duplicate --conf key {k!r} "
                      f"({axis_confs[k]!r} vs {v!r}) — pass each key once")
                return 3
            axis_confs[k] = v
            no_perf_gate = True  # axis runs aren't perf baselines
            if update_times:
                print("ERROR: --conf and --update-times are mutually "
                      "exclusive (axis runs are not perf baselines)")
                return 3
    # abspath: Spark streaming sources resolve relative paths against
    # the Hadoop FS working dir, not the process cwd — a relative
    # sf_dir silently breaks every streaming entry
    sf_dir = os.path.abspath(args[0]) if args else "/root/testdata/sf0.01"
    only = set(args[1:])
    prev: dict = {}
    base_marker = None
    if os.path.exists(TIMES_PATH):
        try:
            with open(TIMES_PATH) as fh:
                doc = json.load(fh)
            if doc.get("sf_dir") == sf_dir:
                prev = doc.get("times", {})
                base_marker = doc.get("cpu_marker")
        except Exception:
            prev = {}
    # Best-of-3 (ADVICE r9) feeds THIS tool's host_factor: the marker
    # MULTIPLIES the perf threshold, so one transiently contended
    # sample would silently loosen the gate for the whole run. The mean
    # is stored next to it (ADVICE r11): bench.py's marker is a mean,
    # and dividing a mean by a best-of floor inflates host_factor ~5%.
    samples = _cpu_marker_samples(3)
    cur_marker = round(min(samples), 3)
    cur_marker_mean = round(sum(samples) / len(samples), 3)
    host_factor = 1.0
    if base_marker:
        host_factor = max(1.0, cur_marker / base_marker)
        if host_factor > HOST_FACTOR_CAP:
            # an uncapped factor would let a pathologically slow marker
            # sample mask ANY regression; past the cap the box is too
            # different from the baseline host for ratios to mean much,
            # so say so rather than silently widening (ADVICE r9)
            print(
                f"perf gate: host_factor {host_factor:.2f} exceeds cap "
                f"{HOST_FACTOR_CAP} — capping (box is >{HOST_FACTOR_CAP}x "
                "slower than the baseline host; ratios are low-trust, "
                "consider --update-times on an idle host)"
            )
            host_factor = HOST_FACTOR_CAP
    ratio_cap = PERF_RATIO * host_factor
    if prev:
        print(
            f"perf gate: cpu_marker {cur_marker}s"
            + (
                f" (baseline {base_marker}s, host_factor "
                f"{host_factor:.2f}, threshold {ratio_cap:.2f}x)"
                if base_marker
                else " (no baseline marker, threshold "
                f"{ratio_cap:.2f}x)"
            )
        )
    # Vanilla session on purpose: no nanosAsLong, no shuffle-partition
    # tuning, nothing from the repo's session factory.
    builder = (
        SparkSession.builder.master("local[8]")
        .appName("gate-check")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.driver.memory", "8g")
    )
    if tz:
        builder = builder.config("spark.sql.session.timeZone", tz)
        print(f"session timeZone = {tz} (TZ-robustness mode)")
    for k, v in axis_confs.items():
        builder = builder.config(k, v)
        print(f"axis conf: {k} = {v}")
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    con = duck_con(sf_dir)
    queries = entry.queries()
    oracles = entry.oracle_sql()
    results: dict[str, dict] = {}
    n_fail = 0
    perf_fails: list[str] = []
    for name, fn in queries.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            if name in oracles:
                rel = con.sql(oracles[name])
                type_lint = [
                    f"{c}:{t}"
                    for c, t in zip(rel.columns, map(str, rel.types))
                    if t.upper() in ("HUGEINT", "UHUGEINT")
                    or t.upper().startswith("DECIMAL")
                ]
                if type_lint:
                    problems = [
                        "oracle output-type lint: "
                        + ", ".join(type_lint)
                        + " — driver hash canonicalization diverges on"
                        " int128/decimal; cast ::BIGINT or ROUND(...)"
                    ]
                else:
                    # per-column heuristic: only suppress the warning
                    # when a ROUND( call (or an explicit DOUBLE cast,
                    # which pins the exact bits) feeds THIS column's
                    # alias — a ROUND elsewhere in the SQL must not
                    # silence an unrounded column (ADVICE r7)
                    import re as _re

                    def _col_pinned(
                        sql: str, col: str, _depth: int = 0,
                        _skip_at: int = -1,
                    ) -> bool:
                        # Examine ONLY the select-list item defining
                        # this alias (ADVICE r8: a proximity window let
                        # a ROUND feeding a DIFFERENT column suppress
                        # the warning): find "AS col" (optionally
                        # quoted/backticked), walk backwards to the
                        # nearest top-level comma or enclosing paren,
                        # and require the ROUND/::DOUBLE pin INSIDE
                        # that item. \bround blocks workaround(-style
                        # false identifiers. A bare-identifier item
                        # (e.g. `roll AS best_rev` re-exporting a CTE
                        # column) recurses one level to the source
                        # alias's own definition.
                        if _depth > 3:
                            return False
                        m = None
                        alias_pat = (
                            r"\bas\s+[\"`]?" + _re.escape(col)
                            + r"[\"`]?\b"
                        )
                        for m_ in _re.finditer(
                            alias_pat, sql, _re.IGNORECASE
                        ):
                            if m_.start() == _skip_at:
                                continue
                            m = m_  # last definition = outermost SELECT
                        if m is None:
                            return False
                        depth = 0
                        i = m.start() - 1
                        start = 0
                        while i >= 0:
                            ch = sql[i]
                            if ch == ")":
                                depth += 1
                            elif ch == "(":
                                if depth == 0:
                                    start = i + 1
                                    break
                                depth -= 1
                            elif ch == "," and depth == 0:
                                start = i + 1
                                break
                            i -= 1
                        item = sql[start:m.start()]
                        # a COMPLETE paren group before the item (e.g.
                        # a whole CTE body) survives the backward walk
                        # — trim to after the last top-level SELECT so
                        # an inner query's ROUND can't pin an outer
                        # column of the same name
                        d = 0
                        for km in _re.finditer(
                            r"[()]|\bselect\b", item, _re.IGNORECASE
                        ):
                            tok = km.group(0)
                            if tok == "(":
                                d += 1
                            elif tok == ")":
                                d -= 1
                            elif d == 0:
                                item = item[km.end():]
                                break
                        if _re.search(
                            r"(\bround\s*\(|::\s*double"
                            r"|\bas\s+double\s*\))",
                            item,
                            _re.IGNORECASE,
                        ):
                            return True
                        # bare identifier re-export: trace the source
                        # alias (skipping this very definition so
                        # `x AS x` can't loop)
                        ident = item.strip().strip('"`')
                        ident = ident.rsplit(".", 1)[-1]
                        if _re.fullmatch(r"\w+", ident):
                            return _col_pinned(
                                sql, ident, _depth + 1, m.start()
                            )
                        return False

                    dbl = [
                        c
                        for c, t in zip(rel.columns, map(str, rel.types))
                        if t.upper() == "DOUBLE"
                        and not _col_pinned(oracles[name], c)
                    ]
                    if dbl:
                        print(
                            f"WARN {name}: unrounded DOUBLE oracle "
                            f"column(s) {dbl}", flush=True,
                        )
                    opdf = rel.df()
                    problems = compare(sdf, opdf)
            else:
                problems = [] if sdf.count() >= 0 else ["negative rows?"]
                problems.append("no_oracle")
        except Exception as exc:  # noqa: BLE001
            problems = [f"ERROR {type(exc).__name__}: {exc}"]
        dt = time.time() - t0
        ok = not problems
        if not ok and problems != ["no_oracle"]:
            n_fail += 1
        base = prev.get(name)
        ratio = round(dt / base, 2) if base else None
        slow = (
            ratio is not None
            and ratio > ratio_cap
            and (base >= PERF_FLOOR_SEC or dt >= PERF_ABS_SEC)
        )
        if slow and ok:
            # confirm before failing: re-time (twice) and keep the best
            # sample — a lone contended run must not fail the gate
            for _ in range(2):
                if not slow:
                    break
                t1 = time.time()
                try:
                    # Spark-side re-execution only (no oracle replay):
                    # a lenient lower bound — a confirmed-slow entry is
                    # slow even before the DuckDB half is added back
                    fn(spark, sf_dir).count()
                    dt2 = time.time() - t1
                    if dt2 < dt:
                        dt = dt2
                        ratio = round(dt / base, 2)
                        slow = ratio > ratio_cap and (
                            base >= PERF_FLOOR_SEC or dt >= PERF_ABS_SEC
                        )
                except Exception:  # noqa: BLE001 — keep prior sample
                    break
        if slow:
            perf_fails.append(name)
        results[name] = {
            "ok": ok, "sec": round(dt, 2), "ratio": ratio,
            "problems": problems,
        }
        status = "PASS" if ok else "FAIL"
        rcol = f" {ratio:5.2f}x" if ratio is not None else "      -"
        rcol += " SLOW" if slow else ""
        print(
            f"{status:4} {name:32} {dt:6.1f}s{rcol}"
            + ("" if ok else f"  {problems[0][:200]}"),
            flush=True,
        )
        # entry N's cached blocks and lazily freed JVM garbage must not
        # land in entry N+1's timed window
        settle(spark)
    print(json.dumps({k: v["ok"] for k, v in results.items()}))
    print(f"\n{len(results) - n_fail}/{len(results)} pass")
    if perf_fails:
        print(
            f"PERF: {len(perf_fails)} entr{'y' if len(perf_fails) == 1 else 'ies'} "
            f"regressed >{ratio_cap:.2f}x vs baseline: "
            f"{', '.join(perf_fails)}"
            + (" [overridden by --no-perf-gate]" if no_perf_gate else "")
        )
    if update_times and not only:
        # multi-core marker baseline (VERDICT r16 #1): bench.py's
        # host_factor_mc divides today's N-thread marker by this;
        # sampled here so --update-times on an idle host pins BOTH
        # the single-thread and the full-width speed of the box
        try:
            marker_mc = _cpu_marker_mc_mean()
        except Exception:  # noqa: BLE001 — marker must never fail the gate
            marker_mc = None
        # only ok entries: a failed entry's wall time is an error path
        # (often seconds short of a real run) and would poison every
        # future ratio against it
        #
        # median-of-clean-runs (VERDICT r16 #3/#8): per-entry history
        # accumulates across --update-times runs on the same sf_dir
        # (newest 5 samples) and the published `times` is the MEDIAN —
        # not this run's point sample, and never a min-of-runs floor
        # (optimistic floors make future ratios flag on plain noise).
        import statistics as _st

        runs: dict[str, list[float]] = {}
        if "--fresh-times" not in flags:
            try:
                with open(TIMES_PATH) as fh:
                    _old = json.load(fh)
                if _old.get("sf_dir") == sf_dir:
                    # entries no longer in the catalog drop out here
                    runs = {
                        k: [float(x) for x in v][-5:]
                        for k, v in (_old.get("times_runs") or {}).items()
                        if k in queries
                    }
            except Exception:  # noqa: BLE001 — missing/legacy file: fresh start
                runs = {}
        for k, v in results.items():
            if v["ok"]:
                runs[k] = (runs.get(k, []) + [v["sec"]])[-5:]
        with open(TIMES_PATH, "w") as fh:
            json.dump(
                {
                    "sf_dir": sf_dir,
                    "cpu_marker": cur_marker,
                    # mean-of-samples twin for bench.py's host_factor
                    # (ADVICE r11): bench normalizes a MEAN marker, so
                    # it must divide by a mean-based baseline, not this
                    # tool's best-of floor
                    "cpu_marker_mean": cur_marker_mean,
                    "cpu_marker_mc_mean": marker_mc,
                    # the mc marker runs one stream per
                    # $SPARK_GRAFT_CPUS; bench.py only applies
                    # host_factor_mc when its thread count matches
                    "cpu_marker_mc_threads": max(1, graft_cpus()),
                    "times": {
                        k: round(_st.median(v), 2)
                        for k, v in runs.items()
                        if v
                    },
                    "times_runs": runs,
                },
                fh,
                indent=1,
                sort_keys=True,
            )
        n_hist = max((len(v) for v in runs.values()), default=0)
        print(
            f"baseline updated: {TIMES_PATH} "
            f"(median of <= {n_hist} clean runs per entry)"
        )
    if n_fail:
        return 1
    if perf_fails and not no_perf_gate:
        return 2
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
