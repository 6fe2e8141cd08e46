"""Benchmark harness: times every registered query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Output contract (round 6 — VERDICT r5 "Next round" #8: every prior round's
single fat JSON line was truncated by the driver's tail capture, leaving
BENCH_r*.json unparsed):
  - full per-query timings go to BENCH_DETAIL.json next to this file;
  - stdout's LAST line is ONE compact JSON object — total, sf, and the
    per-query seconds for the BASELINE.md-mappable headline subset — small
    enough (<1.5 KB) to survive the driver's tail capture intact.

Comparable to BASELINE.md's per-query wall-clock table (reference run on
Databricks CE; see SURVEY.md §6 — comparison is per-operator relative cost).
"""

from __future__ import annotations

import json
import os
import sys
import time

# BASELINE.md "Per-query wall-clock" rows #1-#14 mapped to registry names
# (QUERIES.md §coverage map) — the subset the judge compares directly.
BASELINE_MAPPABLE = (
    "count_distinct_orders",  # 1
    "orders_no_price",  # 2
    "valid_orders",  # 3
    "clean_orders",  # 4
    "top_abandoned_products",  # 5
    "top_abandoned_pairs",  # 6
    "abandonment_mom_increase",  # 7
    "abandonment_yoy_increase",  # 8
    "nations_by_customer",  # 9
    "nations_by_supplier",  # 10
    "nations_by_expr_key",  # 11
    "launch_month_orders",  # 12
    "abandonment_by_month",  # 13
    "abandonment_by_day",  # 13b
    "order_export_denorm",  # 14
)


# Result-sink modes (round 7 — VERDICT r6 "Next round" #3): collect() adds
# a driver-transfer term that is O(result), which for multi-million-row
# outputs (e.g. dedup_simhash_wide_pairs at 16x: 5.88 M pairs) dominates
# the measurement and hides the plan's own growth. "parquet" writes the
# result to a scratch dir instead — the production shape (pair relations
# are inputs to downstream stages, never driver material) — and "count"
# materializes without any transfer. Growth-sweep scripts import
# materialize() so their curves measure the PLAN at every scale.
def materialize(df, sink: str = "collect", scratch: str | None = None) -> None:
    if sink == "collect":
        df.collect()
    elif sink == "count":
        df.count()
    elif sink == "parquet":
        out = scratch or os.path.join(
            "/tmp", f"spark_graft_u{os.getuid()}_bench_sink"
        )
        df.write.mode("overwrite").parquet(out)
    else:
        raise ValueError(f"unknown sink {sink!r}")


# Fixed calibration query (round 7 — VERDICT r6 "Next round" #4): its warmed
# median is a host-speed probe recorded with every sweep, so cross-round
# per-query deltas can be normalized (delta / calibration ratio) to separate
# host variance from code regressions in one division.
CALIBRATION_QUERY = "count_distinct_orders"
CALIBRATION_REPEATS = 5

# The core count the committed BENCH_DETAIL.json, its BENCH_NOTES delta
# table and the flag adjudication are defined for: the r1-r19 sweeps ran at
# local[32]. A sweep at any other SPARK_GRAFT_CPUS is a scaling run; it
# writes BENCH_DETAIL_c{N}.json, skips both, and says so on stderr.
SWEEP_CPUS = 32


def _busy(n: int) -> float:
    """Deterministic single-core busy loop for the parallel-capacity probe."""
    t0 = time.perf_counter()
    x = 0
    for i in range(n):
        x += i * i
    return time.perf_counter() - t0


def _multicore_probe() -> dict:
    """Parallel-capacity probe (round 13). The single-thread calibration
    query is blind to hypervisor-level core oversubscription: the r12/r13
    sweeps drifted up to 1.8x on the parallel-heavy tail at FLAT
    single-thread calibration, and this probe measured the '32-core' VM
    delivering ~18.5 effective cores (inflation 1.73 vs the ~1.0-1.1 a
    dedicated host shows). Recorded with every sweep so cross-round deltas
    can separate single-thread host speed (calibration ratio) from
    parallel capacity (inflation ratio) — a tail-heavy uniform shift with
    flat calibration but risen inflation is the host, not code."""
    import multiprocessing as mp

    n_iter = 20_000_000
    single = min(_busy(n_iter) for _ in range(3))
    procs = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    with mp.Pool(procs) as pool:
        t0 = time.perf_counter()
        pool.map(_busy, [n_iter] * procs)
        par = time.perf_counter() - t0
    return {
        "n_procs": procs,
        "single_sec": round(single, 3),
        "parallel_wall_sec": round(par, 3),
        "inflation": round(par / single, 2),
    }


# Auto-generated cross-sweep delta section in BENCH_NOTES.md (round 8 —
# VERDICT r7 "Next round" #8): normalizing each per-query delta by the
# calibration-probe ratio separates host variance from code regressions in
# one division (e.g. r7's clean_orders +33% blip was pure host). The table
# lives between the markers below and is REWRITTEN by every bench run; the
# hand-written analysis around it is never touched.
_DELTA_BEGIN = "<!-- bench-delta:begin (auto-generated by bench.py) -->"
_DELTA_END = "<!-- bench-delta:end -->"
# normalized ratio past this (either way) = likely code, not host...
_DELTA_NOTEWORTHY = 1.3
# ...but only when the absolute delta also clears this floor — sub-second
# queries flip 1.3x on scheduler noise alone
_DELTA_MIN_ABS_SEC = 0.4
# Self-adjudication (round 9 — VERDICT r8 #3): in-sweep numbers share one
# session with 140+ other queries' caches and GC, which produced phantom
# 2x "slower" flags two rounds running (dedup_ngram_jaccard r8: 6.66 s
# in-sweep vs 3.11 s isolated). Every "slower (code?)" flag is therefore
# re-measured in a FRESH subprocess (own JVM + session, discarded warmup,
# median-of-3) and the table records both numbers; a flag whose isolated
# normalized ratio is back within the noteworthy band is classed
# "contention (in-sweep)" automatically. Cap bounds the adjudication cost
# if a sweep goes globally sideways.
_ISOLATE_MAX_QUERIES = 8
_ISOLATE_REPEATS = 3
# Oversubscribed-host self-defense (round 17 — VERDICT r16 #4): the r16
# driver sweep ran at parallel-capacity inflation 1.98 with the calibration
# series itself drifting 0.616→1.16 through the run; its in-run isolated
# re-measures were contaminated by the same host state (copurchase_pagerank
# read 13.67 s isolated, 2.7x its idle anchor, on untouched code) yet the
# table auto-classed 4 rows "slower (code, Nx isolated)" from them. When
# the sweep's own multicore probe shows inflation past this threshold,
# in-run isolated re-measures are ADVISORY-ONLY: a still-slow isolated row
# is classed "needs idle adjudication" and the table emits the exact
# `bench.py --anchors` command for the idle protocol instead of indicting
# code from numbers measured on a host that cannot acquit it. A
# back-in-band isolated row still closes as contention — a degraded host
# only ever inflates the isolated number, so in-band is conservative.
_INFLATION_ADVISORY_MAX = 1.6


def _isolated_median(name: str) -> float | None:
    """Warmed median of a single query measured in a fresh subprocess
    (fresh JVM — true isolation from the sweep session's cache/GC state).
    Returns None if the subprocess fails; adjudication then abstains."""
    import subprocess

    try:
        out = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--isolated", name],
            capture_output=True,
            text=True,
            timeout=600,
            env=os.environ.copy(),
        )
        last = out.stdout.strip().splitlines()[-1]
        return float(json.loads(last)["median_sec"])
    except Exception:
        return None


def _isolated_main(name: str) -> None:
    """Subprocess entry: measure one query (same sf_dir/cpus/sink contract
    as the sweep) and print one JSON line."""
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.environ.setdefault("SPARK_GRAFT_CPUS", "32")
    sink = os.environ.get("SPARK_GRAFT_BENCH_SINK", "collect")

    from databricks_spark_sql_challenge1_spark.session import get_spark
    import databricks_spark_sql_challenge1_spark.operators  # noqa: F401
    from databricks_spark_sql_challenge1_spark.registry import QUERIES
    from databricks_spark_sql_challenge1_spark.catalog import last_order_datetime

    spark = get_spark("challenge1-bench-isolated")
    spark.read.parquet(os.path.join(sf_dir, "orders.parquet")).count()
    last_order_datetime(spark, sf_dir)
    fn = QUERIES[name]
    materialize(fn(spark, sf_dir), sink)  # discarded warmup
    runs = []
    for _ in range(_ISOLATE_REPEATS):
        # cold-cache protocol (VERDICT r18 #1): the warmup (and each prior
        # repeat) populates any in-plan .cache() frames — clear them so the
        # timed run recomputes from the parquet inputs
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        materialize(fn(spark, sf_dir), sink)
        runs.append(round(time.perf_counter() - t0, 3))
    print(json.dumps({"query": name, "median_sec": sorted(runs)[len(runs) // 2],
                      "runs": runs}))


def _mt_stamps(detail: dict) -> list[float]:
    """Every parallel-capacity inflation stamp a sweep recorded, in probe
    order (sweep start, adjudication time, post-adjudication)."""
    return [
        x
        for k in ("calibration_mt", "calibration_mt_post", "calibration_mt_final")
        for x in [(detail.get(k) or {}).get("inflation")]
        if x is not None
    ]


def _inflation_ratio(detail: dict, prev: dict | None) -> float | None:
    """Cross-sweep parallel-capacity ratio: this sweep's WORST inflation
    stamp over the previous sweep's start stamp. None when either side
    lacks stamps (pre-r13 sweeps)."""
    now_stamps = _mt_stamps(detail)
    prev_infl = ((prev or {}).get("calibration_mt") or {}).get("inflation")
    if not now_stamps or not prev_infl:
        return None
    return max(now_stamps) / prev_infl


def _delta_rows(detail: dict, prev: dict | None):
    """Shared classification: (host_ratio, infl_ratio, rows) where each row
    is (name, prev_s, now_s, (raw, norm_host, norm_par) | None, flag).
    Returns None when no comparable previous sweep exists.

    Round 18 (VERDICT r17 #4): the single-thread host ratio is the WRONG
    normalization denominator when it and the parallel-capacity ratio move
    in OPPOSITE directions — the r17 driver sweep's single-thread stamp got
    FASTER (host 0.73) while parallel capacity got worse (inflation
    1.5→1.91/2.02), so `raw / 0.73` inflated every parallel-heavy row
    ~1.37x and manufactured most of its 24 flags. The calibration query is
    blind to core oversubscription (BENCH_NOTES §Round-13), so each
    direction now normalizes by its CONSERVATIVE denominator: a slower
    flag must clear the band under max(host, inflation-ratio), a faster
    flag under min(host, inflation-ratio) — a row flagged either way is
    noteworthy under BOTH readings of the host. When inflation stamps are
    missing on either side, both denominators collapse to the host ratio
    (the pre-r13 behavior)."""
    if prev is None:
        return None
    # Never adjudicate across core counts (VERDICT r18 #3's reverse
    # direction: the r18 tree's BENCH_DETAIL.json was the driver's c8
    # scaling run, so a 32-core sweep comparing against it would flag the
    # whole suite). Suffixed detail files keep this like-for-like going
    # forward; this guard covers a pre-suffix file already on disk.
    if prev.get("cpus") != detail.get("cpus"):
        return None
    cal_now = detail["calibration"]["median_sec"]
    cal_prev = (prev.get("calibration") or {}).get("median_sec")
    if not cal_prev:
        return None
    host = cal_now / cal_prev
    infl = _inflation_ratio(detail, prev)
    denom_slow = max(host, infl) if infl is not None else host
    denom_fast = min(host, infl) if infl is not None else host
    rows = []
    for name, now_s in sorted(detail["queries"].items()):
        prev_s = prev.get("queries", {}).get(name)
        if not prev_s:
            rows.append((name, prev_s, now_s, None, "new"))
            continue
        raw = now_s / prev_s
        norm_host = raw / host
        norm_par = raw / denom_slow
        flag = (
            "slower (code?)"
            if raw / denom_slow > _DELTA_NOTEWORTHY
            and abs(now_s - prev_s * denom_slow) >= _DELTA_MIN_ABS_SEC
            else "faster (code?)"
            if raw / denom_fast < 1 / _DELTA_NOTEWORTHY
            and abs(now_s - prev_s * denom_fast) >= _DELTA_MIN_ABS_SEC
            else "within noise"
        )
        rows.append((name, prev_s, now_s, (raw, norm_host, norm_par), flag))
    return host, infl, rows


def _adjudicate_flags(detail: dict, prev: dict | None) -> dict[str, float]:
    """Re-measure every 'slower (code?)' flag in a fresh subprocess and
    return {name: isolated_median_sec}. Stored in BENCH_DETAIL.json and
    consumed by the delta table to separate in-sweep contention from real
    code regressions without a manual re-measure."""
    classified = _delta_rows(detail, prev)
    if classified is None:
        return {}
    _, _, rows = classified
    flagged = [name for name, _p, _n, _r, flag in rows
               if flag == "slower (code?)"]
    isolated: dict[str, float] = {}
    for name in flagged[:_ISOLATE_MAX_QUERIES]:
        med = _isolated_median(name)
        if med is not None:
            isolated[name] = med
    if len(flagged) > _ISOLATE_MAX_QUERIES:
        print(
            f"bench: {len(flagged)} slower-flags exceed the isolation cap "
            f"({_ISOLATE_MAX_QUERIES}); unadjudicated: "
            f"{flagged[_ISOLATE_MAX_QUERIES:]}",
            file=sys.stderr,
        )
    return isolated


def _write_delta_table(
    detail: dict, prev: dict | None, notes_path: str | None = None
) -> None:
    notes_path = notes_path or os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_NOTES.md"
    )
    if not os.path.exists(notes_path):
        return
    classified = _delta_rows(detail, prev)
    if classified is None:
        return
    host, infl, rows = classified
    cal_now = detail["calibration"]["median_sec"]
    cal_prev = prev["calibration"]["median_sec"]
    isolated = detail.get("isolated", {})
    mt_now = (detail.get("calibration_mt") or {}).get("inflation")
    mt_prev = (prev.get("calibration_mt") or {}).get("inflation")
    # The advisory decision takes the WORST of every recorded probe: the
    # r17 builder attempt started at 1.59 (under threshold) but the host
    # had degraded by the time the in-run re-measures fired
    # (dedup_simhash_methods read 13.5 s "isolated" vs its same-day 9.1 s
    # idle anchor) — a start-only stamp misses exactly the oscillation
    # that contaminates the re-measures; ADVICE r17 extended the same
    # reasoning past the adjudication pass itself (a third stamp is
    # probed AFTER _adjudicate_flags returns, so degradation that begins
    # during the possibly-minutes-long re-measure loop is also caught).
    mt_post = (detail.get("calibration_mt_post") or {}).get("inflation")
    mt_final = (detail.get("calibration_mt_final") or {}).get("inflation")
    mt_worst = max(_mt_stamps(detail), default=None)
    advisory = mt_worst is not None and mt_worst > _INFLATION_ADVISORY_MAX
    mt_note = (
        f" Parallel-capacity probe inflation: prev "
        f"{mt_prev if mt_prev is not None else 'n/a'}, now "
        f"{mt_now if mt_now is not None else 'n/a'} at sweep start"
        + (
            f", {mt_post} at adjudication time"
            if mt_post is not None
            else ""
        )
        + (
            f", {mt_final} after the re-measure pass"
            if mt_final is not None
            else ""
        )
        + " (single-thread "
        "calibration is blind to core oversubscription; a tail-heavy "
        "uniform shift at flat calibration but risen inflation is host "
        "parallel capacity, not code)."
    )
    if advisory:
        mt_note += (
            f" Inflation exceeds {_INFLATION_ADVISORY_MAX}: this host is "
            "oversubscribed, so in-run isolated re-measures are "
            "ADVISORY-ONLY — still-slow rows are classed 'needs idle "
            "adjudication', not 'slower (code)'; back-in-band rows still "
            "close as contention."
        )
    norm_note = (
        f" Normalized = raw ratio / host ratio and raw ratio / "
        f"max(host ratio, inflation ratio {infl:.2f}); a slower flag must "
        f"clear {_DELTA_NOTEWORTHY}x under the SECOND (conservative) "
        "denominator — the single-thread stamp alone manufactured the r17 "
        "flag pile when it and parallel capacity moved in opposite "
        "directions (VERDICT r17 #4)."
        if infl is not None
        else f" Normalized = raw ratio / host ratio (no inflation stamps "
        f"on one side); |normalized| beyond {_DELTA_NOTEWORTHY}x is "
        "flagged as likely code."
    )
    lines = [
        _DELTA_BEGIN,
        "",
        f"Prev sweep: {prev.get('sink', '?')}-sink, calibration "
        f"{cal_prev:.3f} s; this sweep: {detail['sink']}-sink, calibration "
        f"{cal_now:.3f} s; host ratio {host:.2f}.{mt_note}{norm_note}"
        " Every slower flag is "
        "re-measured in a fresh subprocess (warmed median-of-"
        f"{_ISOLATE_REPEATS}); 'isolated s' and the final class record "
        "the adjudication: contention (in-sweep) = isolated ratio back "
        "within the band. Only flagged and new rows are listed (full "
        "numbers in BENCH_DETAIL.json).",
        "",
        "| query | prev s | now s | raw | norm (host) | norm (worst) "
        "| isolated s | class |",
        "|---|---|---|---|---|---|---|---|",
    ]
    n_flagged = 0
    needs_idle: list[str] = []
    for name, prev_s, now_s, ratios, flag in rows:
        if flag == "within noise":
            continue
        n_flagged += 1
        raw = f"{ratios[0]:.2f}x" if ratios else "-"
        norm_host = f"{ratios[1]:.2f}x" if ratios else "-"
        norm_par = f"{ratios[2]:.2f}x" if ratios else "-"
        prev_txt = f"{prev_s:.3f}" if prev_s else "-"
        iso_txt = "-"
        if flag == "slower (code?)":
            iso = isolated.get(name)
            if iso is not None:
                iso_norm = (iso / prev_s) / host
                iso_txt = f"{iso:.3f}"
                if (
                    iso_norm <= _DELTA_NOTEWORTHY
                    or abs(iso - prev_s * host) < _DELTA_MIN_ABS_SEC
                ):
                    flag = "contention (in-sweep)"
                elif advisory:
                    needs_idle.append(name)
                    flag = (
                        f"needs idle adjudication ({iso_norm:.2f}x "
                        "in-run isolated, advisory at inflation "
                        f"{mt_worst})"
                    )
                else:
                    flag = f"slower (code, {iso_norm:.2f}x isolated)"
            else:
                needs_idle.append(name)
                flag = "slower (unadjudicated)"
        lines.append(
            f"| {name} | {prev_txt} | {now_s:.3f} | {raw} | {norm_host} "
            f"| {norm_par} | {iso_txt} | {flag} |"
        )
    if not n_flagged:
        lines.append(
            "| (none flagged — every delta within noise) | | | | | | | |"
        )
    if needs_idle:
        # ADVICE r17: an explicit-name --anchors run REPLACES
        # BENCH_ANCHORS.json wholesale (one run, one calibration stamp —
        # by design), so the printed command must carry the FULL union —
        # the adjudication names, every name in the current anchor file,
        # and this sweep's >= ANCHOR_MIN_SEC tail — or a user running it
        # verbatim clobbers the committed full-union anchors down to the
        # few flagged names (the documented r16 footgun).
        union = set(needs_idle)
        anchors_path = os.path.join(
            os.path.dirname(os.path.abspath(notes_path)), "BENCH_ANCHORS.json"
        )
        try:
            with open(anchors_path) as f:
                union |= set(json.load(f).get("anchors") or {})
        except (OSError, json.JSONDecodeError):
            pass
        union |= {
            n for n, s in detail.get("queries", {}).items()
            if s >= ANCHOR_MIN_SEC
        }
        union.discard(CALIBRATION_QUERY)  # _anchor_names always leads with it
        lines += [
            "",
            "Idle adjudication list (run on a quiet host; the command "
            "REPLACES BENCH_ANCHORS.json wholesale, so it carries the "
            "full union of adjudication names + current anchors + this "
            "sweep's >= "
            f"{ANCHOR_MIN_SEC:.0f} s tail — never trim it): "
            f"`python bench.py --anchors {' '.join(sorted(union))}`"
            f" (adjudication names alone: {' '.join(sorted(needs_idle))})",
        ]
    lines += ["", _DELTA_END]
    block = "\n".join(lines)
    with open(notes_path) as f:
        notes = f.read()
    if _DELTA_BEGIN in notes and _DELTA_END in notes:
        head, rest = notes.split(_DELTA_BEGIN, 1)
        _, tail = rest.split(_DELTA_END, 1)
        notes = head + block + tail
    else:
        notes = notes.rstrip() + "\n\n## Cross-sweep delta (auto)\n\n" + block + "\n"
    with open(notes_path, "w") as f:
        f.write(notes)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.environ.setdefault("SPARK_GRAFT_CPUS", "32")
    sink = os.environ.get("SPARK_GRAFT_BENCH_SINK", "collect")

    from databricks_spark_sql_challenge1_spark.session import get_spark
    import databricks_spark_sql_challenge1_spark.operators  # noqa: F401
    from databricks_spark_sql_challenge1_spark.registry import QUERIES

    # Bench surface: EVERY registered query except the structured-streaming
    # family (writeStream micro-batch runs; timed separately in
    # tests/test_streaming.py). This is the whole regression gate — new
    # registrations are picked up automatically. BENCH_NOTES.md tracks
    # per-query deltas between rounds (>1.3x = regression failure).
    #
    # Sweep order is SORTED, not driver_order: the driver window rotates
    # every round, and a rotation-dependent order changes which scans each
    # query finds hot in the shared session — an ordering term that showed
    # up as phantom per-query deltas in the r14 reading (BENCH_NOTES
    # §Round-14). Sorted order shifts only the neighbors of added/retired
    # names, so cross-round in-sweep comparisons stay like-for-like.
    headline = sorted(
        n for n in QUERIES if not n.startswith("streaming_")
    )

    spark = get_spark("challenge1-bench")
    # JVM/codegen warmup outside the timed region (baseline timings also
    # exclude cluster startup — dbc:cmd32 is a separate setup row). The
    # anchor scalar (S11) is likewise setup: it is cached per sf_dir and in
    # round 1's ordering was amortized by early queries, so warm it here to
    # keep per-query times comparable across rounds.
    from databricks_spark_sql_challenge1_spark.catalog import last_order_datetime

    spark.read.parquet(os.path.join(sf_dir, "orders.parquet")).count()
    last_order_datetime(spark, sf_dir)

    # Measurement protocol (round 6; ADVICE r5 fixed the r5 wording drift):
    # one timed run for the sub-2 s body of the distribution (noise there is
    # absolute-small); for the >= 2 s heavy tail the cold first run is a
    # DISCARDED warmup and the recorded value is the median of the 3
    # subsequent warmed runs.
    HEAVY_TAIL_SEC = 2.0
    REPEATS = 3

    def timed(fn) -> float:
        # Cold-cache protocol (round 19 — VERDICT r18 #1): r18 introduced
        # legitimately multi-referenced .cache() frames INSIDE query plans,
        # but the cache manager also served them across the warmed repeats
        # (the intermediate was computed in the DISCARDED warmup and read
        # back inside the timed region) — measurement inflation, not
        # optimization. Dropping the SQL cache before the clock starts makes
        # every recorded run recompute from the parquet inputs; it also
        # stops cached frames accumulating executor storage across the
        # 137-query sweep session (VERDICT r18 #3). localCheckpoint frames
        # are unaffected (each run creates fresh RDDs — naturally cold).
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        materialize(fn(spark, sf_dir), sink)
        return round(time.perf_counter() - t0, 3)

    # Calibration first (after warmup, before the sweep): warmed median of
    # CALIBRATION_REPEATS runs of the fixed probe query.
    calib_fn = QUERIES[CALIBRATION_QUERY]
    timed(calib_fn)  # discarded cold run
    calib_runs = sorted(timed(calib_fn) for _ in range(CALIBRATION_REPEATS))
    calibration = calib_runs[CALIBRATION_REPEATS // 2]
    calibration_mt = _multicore_probe()

    timings: dict[str, float] = {}
    for name in headline:
        fn = QUERIES[name]
        first = timed(fn)
        if first < HEAVY_TAIL_SEC:
            timings[name] = first
        else:
            runs = sorted(timed(fn) for _ in range(REPEATS))
            timings[name] = runs[REPEATS // 2]

    total = round(sum(timings.values()), 3)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    detail = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf_val,
        "cpus": int(os.environ["SPARK_GRAFT_CPUS"]),
        "sink": sink,
        "calibration": {
            "query": CALIBRATION_QUERY,
            "median_sec": calibration,
            "runs": calib_runs,
        },
        "calibration_mt": calibration_mt,
        "protocol": "cold-run-discarded median-of-3-warmed for queries "
        ">= 2s; single-run below; calibration = warmed median-of-"
        f"{CALIBRATION_REPEATS} of {CALIBRATION_QUERY} (host-speed probe "
        "for cross-round normalization); spark.catalog.clearCache() before "
        "every timed run (cold-cache, round 19 — in-plan .cache() frames "
        "never carry across repeats)",
    }
    # Scaling runs are non-destructive (round 19 — VERDICT r18 #3): the r18
    # driver's 8-core scaling run overwrote the 32-core BENCH_DETAIL.json in
    # place, destroying the round's per-query tail. A core count other than
    # SWEEP_CPUS writes its own suffixed detail file and skips the
    # delta-table rewrite and adjudication — BENCH_NOTES must only ever
    # adjudicate like-for-like sweeps, not a c8-vs-c32 comparison.
    default_cpus = detail["cpus"] == SWEEP_CPUS
    detail_name = (
        "BENCH_DETAIL.json" if default_cpus
        else f"BENCH_DETAIL_c{detail['cpus']}.json"
    )
    detail_path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               detail_name)
    prev = None
    if os.path.exists(detail_path):
        try:
            with open(detail_path) as f:
                prev = json.load(f)
        except (OSError, json.JSONDecodeError):
            prev = None
    # Stop the sweep session BEFORE the isolation subprocesses so the
    # adjudication runs measure against an idle host, not next to a JVM
    # holding 140 queries' worth of cached data. The JVM teardown and
    # whatever launched us take time to drain — the r14 in-run
    # adjudications fired immediately and read ~1.4-1.7x high vs the same
    # names re-measured minutes later (BENCH_NOTES §Round-14) — so wait,
    # bounded, for 1-min loadavg to decay below half the sweep's
    # parallelism before measuring.
    spark.stop()
    # Heuristic, bounded gate: loadavg is host-wide and 1-min-lagged, so
    # this can neither prove idleness nor hang — it just avoids measuring
    # while our own 32-thread sweep drains. Floor the threshold at 8 so a
    # small SPARK_GRAFT_CPUS (e.g. the verify skill's 8) on a host with
    # ambient load doesn't force the full 180 s wait every run.
    settle_deadline = time.monotonic() + 180
    settle_threshold = max(8.0, int(os.environ["SPARK_GRAFT_CPUS"]) / 2)
    while (
        os.getloadavg()[0] > settle_threshold
        and time.monotonic() < settle_deadline
    ):
        time.sleep(5)
    # Second parallel-capacity probe AT ADJUDICATION TIME: the start-of-
    # sweep stamp can pass the advisory threshold while the host degrades
    # mid-sweep (r17 builder attempt: 1.59 at start, re-measures reading
    # 1.5x their same-day idle anchors by the end) — the advisory decision
    # in _write_delta_table takes the worst of the two stamps.
    detail["calibration_mt_post"] = _multicore_probe()
    if default_cpus:
        detail["isolated"] = _adjudicate_flags(detail, prev)
        # Third parallel-capacity probe AFTER the re-measure pass (ADVICE
        # r17): degradation that begins DURING the possibly-minutes-long
        # isolated re-measures evades both earlier stamps — the advisory
        # decision takes the worst of all three.
        detail["calibration_mt_final"] = _multicore_probe()
    with open(detail_path, "w") as f:
        json.dump(detail, f, indent=1, sort_keys=True)
    if default_cpus:
        _write_delta_table(detail, prev)
    else:
        print(
            f"bench: cpus={detail['cpus']} != SWEEP_CPUS={SWEEP_CPUS}: wrote "
            f"{detail_name}; skipped the delta table and flag adjudication",
            file=sys.stderr,
        )

    # The compact driver-facing line: LAST on stdout, and small enough that
    # the driver's tail capture holds the whole object.
    print(
        json.dumps(
            {
                "metric": "headline_queries_total",
                "value": total,
                "unit": "sec",
                "sf": sf_val,
                "n_queries": len(timings),
                "calibration": calibration,
                "queries": {
                    n: timings[n] for n in BASELINE_MAPPABLE if n in timings
                },
                "detail_file": "BENCH_DETAIL.json",
            },
            separators=(",", ":"),
        )
    )


# Queries at or above this in-sweep cost get an isolated anchor from
# --anchors when no explicit names are given (the >=3 s tail — below it,
# the isolated protocol's ~0.7 s fresh-JVM floor drowns the signal).
ANCHOR_MIN_SEC = 3.0


def _anchor_names(
    prev_queries: dict, explicit: list[str] | None = None
) -> list[str]:
    """The anchor set: explicit names if given, else the >= ANCHOR_MIN_SEC
    tail of the last sweep — always led by the calibration probe so every
    anchor file carries its own host-speed stamp."""
    names = explicit or sorted(
        n for n, s in prev_queries.items() if s >= ANCHOR_MIN_SEC
    )
    # dict.fromkeys dedupes while preserving order — a repeated explicit
    # name would otherwise run the whole median-of-3 protocol twice and
    # keep only the later value
    return [CALIBRATION_QUERY] + [
        n for n in dict.fromkeys(names) if n != CALIBRATION_QUERY
    ]


def _carry_failed_anchors(
    anchors: dict, failed: list[str], prev: dict
) -> list[str]:
    """Merge the PREVIOUS anchor file's medians over this run's failures
    (in place), returning the carried names. A failed name with no previous
    median stays None — visibly failed, never silently invented."""
    carried = sorted(n for n in failed if prev.get(n) is not None)
    for n in carried:
        anchors[n] = prev[n]
    return carried


def _anchors_main(names: list[str]) -> int:
    """Idle-host isolated anchor set — the round-14 adjudication ritual as
    infrastructure. Measures each query in a fresh subprocess (the exact
    --isolated protocol: fresh JVM, collect sink, discarded warmup, warmed
    median-of-3), always leading with the calibration probe so the set
    carries its own host-speed stamp, and writes BENCH_ANCHORS.json next
    to this file. Compare anchors ONLY against other anchors: the
    isolated protocol carries a fresh-JVM/cold-cache floor (~0.7 s on
    this host) that in-sweep numbers don't pay. With no names given, the
    set is every query whose last sweep (BENCH_DETAIL.json) cost
    >= ANCHOR_MIN_SEC. Run it on a quiet host — loadavg is recorded
    before and after so a noisy run indicts itself."""
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"
    )
    if not names:
        try:
            with open(detail_path) as f:
                prev_queries = json.load(f).get("queries") or {}
        except (OSError, json.JSONDecodeError):
            prev_queries = {}
        names = _anchor_names(prev_queries)
    else:
        names = _anchor_names({}, explicit=names)
    out = {
        "metric": "isolated_anchor_set",
        "unit": "sec",
        "sf_dir": os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
        "protocol": "per-name fresh-subprocess --isolated run: fresh JVM, "
        "collect sink, discarded warmup, warmed median-of-3; "
        f"leading entry {CALIBRATION_QUERY} is the host-speed stamp",
        "loadavg_start": round(os.getloadavg()[0], 2),
        # parallel-capacity stamp (r17): the loadavg rows show what ELSE the
        # host was doing; this shows what the host could deliver — anchor
        # files are the idle-adjudication ground truth, so they must carry
        # the same oversubscription evidence the sweeps record
        "calibration_mt": _multicore_probe(),
        "anchors": {},
    }
    failed = []
    for n in names:
        med = _isolated_median(n)
        out["anchors"][n] = med
        if med is None:
            # subprocess crash/timeout or an unknown name — loud, not a
            # silent null an r15 reader trips over (especially the leading
            # calibration stamp the whole file's normalization rides on)
            failed.append(n)
            print(f"ANCHOR FAILED: {n} (subprocess returned no median)",
                  file=sys.stderr)
        print(json.dumps({"query": n, "isolated_median_sec": med}))
    if failed:
        out["failed"] = failed
    out["loadavg_end"] = round(os.getloadavg()[0], 2)
    if CALIBRATION_QUERY in failed:
        # The whole file's cross-round normalization rides on the
        # calibration stamp — never clobber the previous good anchor file
        # with one that has no stamp.
        print(
            f"ANCHORS NOT WRITTEN: the {CALIBRATION_QUERY} host-speed "
            "stamp failed; the previous BENCH_ANCHORS.json is preserved",
            file=sys.stderr,
        )
        return 1
    anchors_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_ANCHORS.json"
    )
    if failed:
        # Partial failure (ADVICE r14): don't replace a previous file's good
        # median with this run's None — carry the old value forward and say
        # so, keeping every surviving anchor comparable.
        try:
            with open(anchors_path) as f:
                prev = json.load(f).get("anchors") or {}
        except (OSError, json.JSONDecodeError):
            prev = {}
        carried = _carry_failed_anchors(out["anchors"], failed, prev)
        if carried:
            out["carried_from_previous"] = carried
            print(
                f"ANCHORS CARRIED from previous file (this run failed them): "
                f"{', '.join(carried)}",
                file=sys.stderr,
            )
    with open(anchors_path, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    print(json.dumps({"metric": "isolated_anchor_set", "n_queries": len(names),
                      "n_failed": len(failed),
                      "detail_file": "BENCH_ANCHORS.json"},
                     separators=(",", ":")))
    return 1 if failed else 0


if __name__ == "__main__":
    if len(sys.argv) == 3 and sys.argv[1] == "--isolated":
        _isolated_main(sys.argv[2])
        sys.exit(0)
    if len(sys.argv) >= 2 and sys.argv[1] == "--anchors":
        sys.exit(_anchors_main(sys.argv[2:]))
    sys.exit(main())
