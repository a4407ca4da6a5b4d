#!/usr/bin/env python
"""Benchmark runner: catalog queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

    python bench.py              # the entries tagged "headline"
    python bench.py name ...     # the named catalog entries instead

Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

value = total wall-clock seconds across the timed queries (each
executed to completion with a noop write; results are not collected
to the driver).

Median-of-N mode (VERDICT r5 #6 — single contended runs dominated two
rounds of driver artifacts): each query is timed
$SPARK_GRAFT_BENCH_REPS times (default 3) and "queries" carries the
per-query MEDIANS; the raw per-rep timings ride along under
"queries_reps" so contention is visible post-hoc, and "value" is the
sum of medians. Set SPARK_GRAFT_BENCH_REPS=1 for the old single-shot
behavior (used while iterating).

Which entries a headline run times, and which of them the compact
line always prints, are tags on the catalog's entry table
(`tagged("headline")` and `tagged("pinned")` in plans/catalog.py);
both run in table order.

Only a headline run writes the full record (BENCH_full.json and
BENCH_full_c{N}.json), so those files always describe the headline
set; a named run prints the line and each entry's reps on stderr.
An unknown name exits 2 before any Spark session starts.

This is the one timing harness; tools/gate_check.py uses its `settle`
and CPU markers.
"""

from __future__ import annotations

import gc
import json
import os
import statistics
import sys
import time

from data_engineering_bootcamp_spark.operators.dedup import release_caches
from data_engineering_bootcamp_spark.plans.catalog import QUERIES, tagged
from data_engineering_bootcamp_spark.session import env_number, get_spark, graft_cpus

ROOT = os.path.dirname(os.path.abspath(__file__))
# errors key of a failed warm-up; not a catalog name, so never a hard error
WARM_UP = "(warm-up)"


def _cpu_marker_samples(n: int = 3) -> list[float]:
    """Wall times of N runs of a fixed single-thread workload: the
    absolute machine-speed marker. Round-over-round drift with
    IDENTICAL code (r6: 92.9 s idle total, r9: 133.2 s) was
    unfalsifiable until an artifact recorded how fast the box itself
    was that day (observed 0.3-0.7 s a run)."""
    times = []
    for _ in range(n):
        t0 = time.perf_counter()
        x = 0
        for i in range(10_000_000):
            x += i
        times.append(time.perf_counter() - t0)
    return times


def _cpu_marker_mc_mean(samples: int = 2) -> float:
    """MULTI-core twin of `_cpu_marker_samples` (VERDICT r16 #1): the
    single-thread marker stayed flat (0.42 -> 0.43, 3%) across a round
    whose common-set wall moved ~26%, because the observed drift on
    this box is MULTI-core throughput (cgroup/noisy-neighbor
    contention at full width), which one thread cannot see. This
    marker runs $SPARK_GRAFT_CPUS concurrent sha256 streams — hashlib
    releases the GIL for >2 KiB updates, so plain threads exercise
    every core with zero fork/spawn hazard next to the live Py4J
    gateway — and reports the mean wall time for ALL streams to
    finish. Fixed work per thread (256 x 1 MiB updates), so the
    number scales inversely with the parallel throughput actually
    available to this process during the bench window."""
    import hashlib
    from concurrent.futures import ThreadPoolExecutor

    n = max(1, graft_cpus())
    block = b"\x00" * (1 << 20)

    def work(_i: int) -> int:
        h = hashlib.sha256()
        for _ in range(256):
            h.update(block)
        return h.digest()[0]

    acc = 0.0
    with ThreadPoolExecutor(max_workers=n) as pool:
        # warm pass: thread spawn + buffer page-in stay untimed
        list(pool.map(work, range(n)))
        for _ in range(samples):
            t0 = time.perf_counter()
            list(pool.map(work, range(n)))
            acc += time.perf_counter() - t0
    return round(acc / samples, 3)


def warm(spark, sf_dir: str) -> None:
    """Pre-pay session start-up so per-query numbers measure execution:
    the JVM and parquet footers (the cheapest query), then the
    session's FIRST local-relation build, which pays ~1.9 s of
    Py4J/serializer init once per session and otherwise lands on
    whichever query first builds one (VERDICT r11 #1: rep 1 of
    histogram_quantiles read 3.7 s, 0.95 s in isolation)."""
    QUERIES["pricing_summary"](spark, sf_dir).count()
    spark.createDataFrame([(1,)], "warm int").count()


def settle(spark) -> None:
    """Untimed cleanup after each rep or entry: release every cached
    and checkpointed block the query left behind, then collect BOTH
    runtimes. Py4J frees JVM-side DataFrame/RDD handles lazily, so
    without the collections rep N's checkpoint blocks and shuffle
    state land in rep N+1's timed window as 2-5x spikes on the
    iterative queries (r16: pagerank_parts [17.0, 8.7, 10.2, 21.9] s
    back-to-back vs [7.5, 6.4, 7.3, 6.1] s with them). A failing step
    is reported on stderr and never stops the caller."""
    try:
        release_caches()
    except Exception as exc:  # noqa: BLE001 — cleanup must not end a run
        print(f"warning: release_caches failed: {exc!r}", file=sys.stderr)
    gc.collect()
    try:
        spark.sparkContext._jvm.System.gc()
    except Exception as exc:  # noqa: BLE001 — cleanup must not end a run
        print(f"warning: JVM GC failed: {exc!r}", file=sys.stderr)


def is_noisy(per_rep: list[float]) -> bool:
    """Whether one query's reps show contention: a >2x spread across
    reps of identical code means at least one rep was contended (r9
    neardup_clusters: [7.3, 15.7, 6.1] moved the headline ~3 s). With
    3+ reps the first is left out, because a cold first run reads 2-8x
    the warm ones on a quiet host (sf0.001 `doc_dedup_exact`: [1.776,
    0.217, 0.214]); that is first-execution cost, not contention."""
    warm = per_rep[1:] if len(per_rep) >= 3 else per_rep
    return len(warm) >= 2 and max(warm) > 2.0 * min(warm)


def median_of_reps(per_rep: list[float], extra_rep: bool) -> float:
    """The robust location of one query's reps on a noisy host. An
    even count takes the mean of the two middles, except when the
    noise guard bought the extra rep (`extra_rep`): then the LOWER
    middle, because the upper middle of [a, b, HIGH, HIGH] would hand
    the result to a contended sample, the outcome the extra rep exists
    to avoid (ADVICE r10). A plainly configured even count keeps the
    true median; the lower middle would silently report the minimum."""
    srt = sorted(per_rep)
    n = len(srt)
    if n % 2 == 1:
        return srt[n // 2]
    if extra_rep:
        return srt[(n - 1) // 2]
    return round((srt[n // 2 - 1] + srt[n // 2]) / 2, 3)


def compact_line(out: dict, full_artifact: str | None) -> str:
    """The stdout line for the full record `out`. The driver keeps
    only the LAST 2000 bytes of stdout (BENCH_r06/r07 came back
    "parsed": null when the full dict outgrew that window), so the
    line carries the headline fields and a PINNED per-query set:
    every entry tagged "pinned", then the other timed entries in run
    order while the line stays within 1920 bytes (slack for a stray
    trailing warning). Selection never depends on measured times, so
    the printed set does not shift with host noise (r16's driver
    reported 10 phantom `dropped_from_bench` entries when it did). If
    the pinned set alone overflows 1980 bytes, the last pinned entries
    in table order are shed, never the whole map."""
    timings = out["queries"]
    errors = out.get("errors", {})
    n_hard = sum(1 for k in errors if k not in timings and k != WARM_UP)
    compact = {
        "metric": out["metric"],
        "value": out["value"],
        "valid": out["valid"],
        "unit": "sec",
        "sf": out["sf"],
        "bench_reps": out["bench_reps"],
        "n_queries": len(timings),
        "full_artifact": full_artifact,
        "cpu_marker_sec": out["cpu_marker_sec"],
        "cpu_marker_mc_sec": out["cpu_marker_mc_sec"],
        "min_total_sec": out["min_total_sec"],
        "host_factor": out["host_factor"],
        "host_factor_mc": out["host_factor_mc"],
        "value_host_normalized": out["value_host_normalized"],
        "queries": {},
    }
    if out["noisy_entries"]:
        compact["n_noisy"] = len(out["noisy_entries"])
    if n_hard:
        compact["partial_total_sec"] = out["partial_total_sec"]
        compact["n_errors"] = n_hard
    # a degraded run (single-shot medians past the soft budget) must be
    # distinguishable from a clean one, and soft errors (a fault after
    # >= 1 clean rep) counted (ADVICE r8)
    if out["budget_degraded"]:
        compact["n_degraded"] = len(out["budget_degraded"])
    if errors:
        compact["n_errors_total"] = len(errors)
    compact["queries_omitted"] = len(timings)  # placeholder for sizing
    used = len(json.dumps(compact, separators=(",", ":")))
    pinned = tagged("pinned")
    order = [n for n in pinned if n in timings] + [
        n for n in timings if n not in pinned
    ]
    for name in order:
        frag = len(json.dumps({name: timings[name]},
                              separators=(",", ":"))) - 1
        if name not in pinned and used + frag > 1920:
            break
        compact["queries"][name] = timings[name]
        used += frag
    compact["queries_omitted"] = len(timings) - len(compact["queries"])
    line = json.dumps(compact, separators=(",", ":"))
    while len(line) > 1980 and compact["queries"]:
        compact["queries"].pop(next(reversed(compact["queries"])))
        compact["queries_omitted"] = len(timings) - len(compact["queries"])
        line = json.dumps(compact, separators=(",", ":"))
    return line


def main(argv: list[str]) -> int:
    unknown = [n for n in argv if n not in QUERIES]
    if unknown:
        print(f"bench.py: not catalog entries: {' '.join(unknown)}",
              file=sys.stderr)
        return 2
    headline = not argv
    names = tagged("headline") if headline else list(dict.fromkeys(argv))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    # machine-contention marker: loadavg BEFORE the run — a driver bench
    # sharing the box with other work showed 3-5x phantom regressions in
    # round 4, so contaminated runs must be detectable post-hoc
    load_start = os.getloadavg()
    # The markers' MEAN (not best-of) is what is recorded: it must
    # estimate the average contention the queries actually ran under,
    # and a lucky quiet slice would read as an idle box. They are
    # sampled again AFTER the run, so the mean brackets the window.
    markers = _cpu_marker_samples(3)
    cpu_marker_mc = _cpu_marker_mc_mean()
    # Spark's Python workers import the package too, and they read PYTHONPATH
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.getenv("PYTHONPATH")]))
    spark = get_spark(app_name="bench")
    spark.sparkContext.setLogLevel("ERROR")

    # Fault isolation: one broken query must never zero the whole perf
    # signal (round 2's bench died at query 15 and emitted nothing).
    # Failures, the warm-up's included, are recorded under "errors" and
    # excluded from the total; the JSON line is ALWAYS printed.
    errors: dict[str, str] = {}
    try:
        warm(spark, sf_dir)
    except Exception as exc:  # noqa: BLE001 — survive any fault
        errors[WARM_UP] = f"{type(exc).__name__}: {exc}"[:500]
    reps = max(1, env_number("SPARK_GRAFT_BENCH_REPS", 3))
    # Robustness guard: median-of-3 triples the wall clock, and a run
    # killed by an external timeout emits NO JSON at all (the round-2
    # failure mode). Past the soft budget the remaining queries drop to
    # single-shot — every query still gets timed, the artifact always
    # prints, and "budget_degraded" records which medians were lost.
    budget = env_number("SPARK_GRAFT_BENCH_BUDGET_SEC", 900.0)
    t_start = time.perf_counter()
    degraded: list[str] = []
    noisy: list[str] = []
    timings: dict[str, float] = {}
    mins: dict[str, float] = {}
    reps_out: dict[str, list[float]] = {}
    for name in names:
        fn = QUERIES[name]
        per_rep: list[float] = []
        n_reps = reps
        if reps > 1 and time.perf_counter() - t_start > budget:
            n_reps = 1
            degraded.append(name)
        rep_i = 0
        while rep_i < n_reps:
            rep_i += 1
            t0 = time.perf_counter()
            try:
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                per_rep.append(round(time.perf_counter() - t0, 3))
            except Exception as exc:  # noqa: BLE001 — survive any fault
                # KEEP any reps that already succeeded: discarding clean
                # timings would let a transient last-rep fault erase
                # the whole signal
                errors[name] = f"{type(exc).__name__}: {exc}"[:500]
                break
            finally:
                settle(spark)
            # noise guardrail (VERDICT r9 #5): buy ONE extra rep for a
            # contended entry so the median has a majority of clean
            # samples, budget permitting.
            if (
                rep_i == n_reps
                and n_reps > 1
                and is_noisy(per_rep)
                and n_reps == reps  # never extend past the soft budget
                and time.perf_counter() - t_start <= budget
            ):
                n_reps += 1
                noisy.append(name)
        print(f"{name} {per_rep}", file=sys.stderr, flush=True)
        if per_rep:
            timings[name] = median_of_reps(per_rep, name in noisy)
            reps_out[name] = per_rep
            mins[name] = min(per_rep)

    markers += _cpu_marker_samples(3)
    cpu_marker = round(statistics.fmean(markers), 3)
    cpu_marker_mc = round((cpu_marker_mc + _cpu_marker_mc_mean()) / 2, 3)
    # host-factor normalization (VERDICT r10 #3): BENCH_r10 on a
    # contended box read as a 16% regression that the idle twin showed
    # was really a 5% improvement. The committed idle-host marker
    # baseline (GATECHECK_times.json, written by --update-times on an
    # idle host) pins how fast the box SHOULD be; the ratio of today's
    # marker to it scales the headline back to idle-host terms. No
    # floor at 1.0 on purpose — a faster-than-baseline box must deflate
    # the normalized number symmetrically or round-over-round
    # comparisons would still drift one-sided. Estimator (ADVICE r11):
    # this marker is a MEAN (it must track average contention), so it
    # divides by the baseline's mean-based twin `cpu_marker_mean` —
    # dividing a mean by gate_check's best-of-3 floor baked a constant
    # ~5% inflation into host_factor and made value_host_normalized
    # read below the raw value even on an idle box. Fallback to the
    # best-of figure only for a pre-r12 baseline file.
    host_factor = None
    host_factor_mc = None
    _base_marker = None
    _base_marker_mc = None
    try:
        with open(os.path.join(ROOT, "GATECHECK_times.json")) as fh:
            _doc = json.load(fh)
        _base_marker = _doc.get("cpu_marker_mean") or _doc.get("cpu_marker")
        if _base_marker:
            host_factor = round(cpu_marker / _base_marker, 3)
        # multi-core twin (VERDICT r16 #1): the committed baseline is
        # taken by gate_check --update-times on an idle host; the
        # ratio captures the 1.3-1.5x MULTI-core drift the
        # single-thread marker provably misses on this box
        _base_marker_mc = _doc.get("cpu_marker_mc_mean")
        # thread-count guard: the mc marker runs $SPARK_GRAFT_CPUS
        # concurrent streams (fixed work PER THREAD), so its value is
        # only comparable to a baseline taken at the SAME thread
        # count — the driver's lower-core scaling run would otherwise
        # divide an 8-thread marker by a 32-thread baseline and read
        # the box as impossibly fast. A baseline file without the
        # thread count predates this guard and is assumed 32.
        _base_mc_threads = int(_doc.get("cpu_marker_mc_threads") or 32)
        _cur_mc_threads = max(1, graft_cpus())
        if _base_marker_mc and _cur_mc_threads == _base_mc_threads:
            host_factor_mc = round(cpu_marker_mc / _base_marker_mc, 3)
    except Exception:
        pass

    total = round(sum(timings.values()), 3)
    # hard error = a query with ZERO successful reps (missing from the
    # total entirely); a transient fault after >= 1 clean rep keeps its
    # median and does not invalidate the headline number
    hard_errors = [k for k in errors if k not in timings and k != WARM_UP]
    out = {
        "metric": "headline_queries_total_wall_sec",
        # A partial run's sum covers FEWER queries, so publishing it as
        # "value" would make failures look like speedups. When any query
        # has no timing at all, null the headline value and mark the run
        # invalid; the per-query timings that did complete stay
        # available under "queries" and the partial sum under
        # "partial_total_sec".
        "value": total if not hard_errors else None,
        "valid": not hard_errors,
        "unit": "sec",
        "queries": timings,
        # min-of-reps companion (VERDICT r9 #5): medians are the
        # headline, but on a shared box the per-query MIN is the least
        # contended sample — "min_total_sec" is the noise-floor twin of
        # "value", and a round-over-round comparison that disagrees
        # between the two is flagging contention, not code. Like
        # "value", it is NULLED on a partial run (a sum over fewer
        # queries would make failures look like speedups); the partial
        # sum stays available as "partial_min_total_sec".
        "queries_min": mins,
        "min_total_sec": (
            round(sum(mins.values()), 3) if not hard_errors else None
        ),
        # host-normalized twins of "value"/"min_total_sec" (VERDICT
        # r10 #3): wall / host_factor. CONVENTION (made explicit per
        # VERDICT r15): host_factor = today's marker / the committed
        # baseline marker, so dividing converts wall time into
        # BASELINE-HOST seconds — the units of GATECHECK_times.json's
        # host_marker_baseline. A box RUNNING FASTER than that
        # baseline has host_factor < 1 and the normalized value reads
        # ABOVE the raw one (r15: 0.895 -> 128.3 vs 114.8 raw); that
        # is the symmetric counterpart of a contended box deflating
        # (r14: 1.123 -> 97.1 vs 109.1), not an inversion. Normalized
        # totals are comparable ROUND-OVER-ROUND exactly while
        # host_marker_baseline is unchanged; after a rebaseline,
        # compare raw values bracketed by their own markers instead.
        # Null when the run is partial or no baseline exists.
        "host_factor": host_factor,
        # the baseline marker host_factor divided by — recorded so a
        # cross-round reader can tell a true slowdown from a
        # REBASELINED normalization basis (r12 moved to a 1.37x-slower
        # host and rebaselined; without this field the normalized
        # twins would silently stop being comparable across the break)
        "host_marker_baseline": _base_marker,
        "value_host_normalized": (
            round(total / host_factor, 3)
            if host_factor and not hard_errors
            else None
        ),
        "min_total_host_normalized": (
            round(sum(mins.values()) / host_factor, 3)
            if host_factor and not hard_errors
            else None
        ),
        # multi-core host factor (VERDICT r16 #1): host_factor_mc is
        # the marker that actually tracks this box's drift class —
        # prefer it over host_factor when normalizing round-over-round
        "host_factor_mc": host_factor_mc,
        "host_marker_mc_baseline": _base_marker_mc,
        "value_host_normalized_mc": (
            round(total / host_factor_mc, 3)
            if host_factor_mc and not hard_errors
            else None
        ),
        "noisy_entries": noisy,
        "bench_reps": reps,
        "queries_reps": reps_out,
        "budget_degraded": degraded,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        # 1/5/15-min loadavg at start and end; compare against
        # $SPARK_GRAFT_CPUS to judge whether the box was idle
        "loadavg_start": [round(x, 2) for x in load_start],
        "loadavg_end": [round(x, 2) for x in os.getloadavg()],
        "cpu_marker_sec": cpu_marker,
        "cpu_marker_mc_sec": cpu_marker_mc,
    }
    if errors:
        out["errors"] = errors
    if hard_errors:
        out["partial_total_sec"] = total
        out["partial_min_total_sec"] = round(sum(mins.values()), 3)
    full_artifact = None
    if headline:
        full_path = os.path.join(ROOT, "BENCH_full.json")
        try:
            with open(full_path, "w") as fh:
                json.dump(out, fh, indent=1, sort_keys=True)
            # per-core-count twin (VERDICT r16 #1): the driver's scaling
            # run (lower $SPARK_GRAFT_CPUS) OVERWRITES BENCH_full.json,
            # so the suffixed copy keeps each core count's full record
            with open(full_path.replace(".json", f"_c{graft_cpus()}.json"),
                      "w") as fh:
                json.dump(out, fh, indent=1, sort_keys=True)
            full_artifact = "BENCH_full.json"
        except OSError as exc:
            # the full dict carries loadavg / per-rep timings / error
            # messages — losing it silently would defeat contaminated-run
            # detection, so leave a visible trace (ADVICE r8)
            print(f"WARNING: BENCH_full.json write failed ({exc}); "
                  "per-rep timings and loadavg lost", file=sys.stderr)
    print(compact_line(out, full_artifact))
    spark.stop()
    # Always exit 0: the driver records this process's stdout as the
    # round's bench evidence, and a nonzero rc risks the whole JSON
    # being discarded (round 2 lost all numbers to rc=1). Per-query
    # failures are visible in the "errors" field instead.
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
