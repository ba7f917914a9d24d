"""Benchmark runner — the driver's per-round BENCH contract.

Runs the registry queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON
line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec, ...}, "sf": ...}.

    python bench.py                 # every query; writes BENCH_DETAIL.json
    python bench.py NAME [NAME ...] # just these; prints the line only

$SPARK_GRAFT_BENCH_PASSES sets the number of timed passes (default 3).

Each query is forced to execute fully (count over the result — keeps all
computation in the JVM; no driver-side row materialization skews).
A warmup pass on sf0.001 absorbs JVM/codegen startup so timings measure
the plans, not the JIT.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from dissertation_data_pipeline_spark.plans.registry import QUERIES  # noqa: E402
from dissertation_data_pipeline_spark.session import drop_blocks, get_spark  # noqa: E402

#: headline queries — one per operator family, the judge's comparison set
HEADLINE = [
    "flagship_corpus_rollup",
    "j2_dim_rollup",
    "j6_multikey_join",
    "w2_latest_per_key",
    "a9_coalesce_fill",
    "p4_filter_project",
    "u3_distinct",
    "ext_dedup_tokenset",
    "ext_minhash_lsh_pairs",
    "ext_simhash_pairs",
    "ext_ann_brute_topk",
    "ext_ann_lsh_topk",
    "ext_quality_score",
    "s_session_window",
]

#: The non-headline queries the round-9 bench line printed, pinned so
#: the printed per-query set stays stable round-over-round (the
#: external comparison treats a query that falls out of the printed
#: line as dropped; ranking purely by current timing churned 5 names
#: in round 9).  Frozen to the round-9 set on purpose — append-only.
PINNED_PRINT = [
    "s_stateful_profile_tws",
    "s_stream_stream_join_evict",
    "s_stream_stream_join",
    "ext_curation_pipeline",
    "s_stateful_profile",
    "s_stream_stream_full_outer",
    "ext_near_dup_components",
    "ext_containment_pairs",
    "ext_ann_ivfpq_rerank",
    "s_stream_stream_left_outer",
    "i4_negative_cache",
    "ext_pagerank_transitions",
    "ext_simhash_pair_recall",
    "ext_corr_matrix",
    "ext_curation_block_pipeline",
    "ext_capped_jaccard_pairs",
    "ext_source_overlap_sketch",
    "ext_ann_ivf_trained_topk",
    "ext_repeated_substring_spans",
    "ext_ann_pq_rerank",
    "ext_embedding_near_dup_recall",
    "ext_triangle_count",
    "ext_dedup_incremental",
    "tpch_q11_important_stock",
    "tpch_q20_potential_promotion",
    "i1_i3_state_protocol",
    "ext_dedup_pair_recall",
    "ext_ccnet_buckets",
    "ext_simhash_pair_recall_h3",
    "tpch_q2_min_cost_supplier",
    "ext_dedup_pair_recall_b6r2",
    "ext_dedup_pair_recall_b4r3",
    "ext_blocked_jaccard_pairs",
    "tpch_q21_waiting_suppliers",
    "ext_dup_ngram_fraction",
    "ext_entity_resolution",
]


def _shuffle_totals(spark) -> tuple[int, int]:
    """Cumulative (shuffle-write bytes, shuffle-read bytes) across all
    executors, from the UI REST API — monotone over the app lifetime,
    so per-query deltas are exact. Returns (-1, -1) if the UI is
    unreachable (disabled, or a foreign session)."""
    try:
        import urllib.request

        base = spark.sparkContext.uiWebUrl
        app = spark.sparkContext.applicationId
        with urllib.request.urlopen(
            f"{base}/api/v1/applications/{app}/executors", timeout=5
        ) as r:
            ex = json.load(r)
        return (
            sum(e.get("totalShuffleWrite", 0) for e in ex),
            sum(e.get("totalShuffleRead", 0) for e in ex),
        )
    except Exception:
        return (-1, -1)


def error_text(e: Exception) -> str:
    """``"Type: first line of the message"``, at most 400 characters."""
    msg = (str(e).strip().splitlines() or [""])[0]
    return f"{type(e).__name__}: {msg}"[:400]


def warm_up(spark, names, sf_dir, queries=QUERIES) -> list[dict[str, str]]:
    """Run each named query once on ``sf_dir`` with a ``count()``.  A
    query that raises is reported as ``{name, error}`` (and one stderr
    line) and the rest still run; the timed pass meets it again."""
    failures = []
    for name in names:
        try:
            queries[name].fn(spark, sf_dir).count()
        except Exception as e:
            failures.append({"name": name, "error": error_text(e)})
            print(f"bench: warmup {name} failed: {failures[-1]['error']}", file=sys.stderr)
    return failures


def run_passes(
    spark, names, sf_dir, n_passes, queries=QUERIES
) -> tuple[list[dict[str, float]], list[float], dict[str, list[int]], list[dict]]:
    """Time ``n_passes`` passes of build + ``count()`` over ``names`` on
    ``sf_dir``, with ``drop_blocks`` after every query.

    Returns the per-pass timings, the 1-minute load average after each
    pass, the shuffle bytes per query and the failures.  A query that
    raises is left out of that pass's timings and reported as ``{name,
    pass, phase, error}`` (phase ``build`` or ``execute``, and one
    stderr line); the rest still run.

    Shuffle volume (write bytes, read bytes) is captured on the first
    pass by diffing the app-lifetime executor totals around each query
    — the dynamic complement to PLAN_STATS.md's static exchange counts.
    The totals are monotone and drop_blocks moves no shuffle bytes, so
    each query's post reading doubles as the next query's pre reading
    (one REST probe per query)."""
    passes: list[dict[str, float]] = []
    loads: list[float] = []
    sbytes: dict[str, list[int]] = {}
    failures: list[dict] = []
    for i in range(n_passes):
        run: dict[str, float] = {}
        pre = _shuffle_totals(spark) if i == 0 else (-1, -1)
        for name in names:
            phase = "build"
            t0 = time.perf_counter()
            try:
                df = queries[name].fn(spark, sf_dir)
                phase = "execute"
                df.count()
                run[name] = round(time.perf_counter() - t0, 3)
            except Exception as e:
                failures.append({"name": name, "pass": i, "phase": phase, "error": error_text(e)})
                print(f"bench: pass {i} {name} failed in {phase}: {failures[-1]['error']}",
                      file=sys.stderr)
            if i == 0 and pre[0] >= 0:
                post = _shuffle_totals(spark)
                if post[0] >= 0:
                    sbytes[name] = [post[0] - pre[0], post[1] - pre[1]]
                pre = post
            drop_blocks(spark)
        passes.append(run)
        loads.append(round(os.getloadavg()[0], 1))
    return passes, loads, sbytes, failures


def main(argv: list[str]) -> None:
    unknown = [n for n in argv if n not in QUERIES]
    if unknown:
        sys.exit(f"bench: unknown queries: {' '.join(unknown)}")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0.1)

    if argv:
        names = list(dict.fromkeys(argv))
    else:
        names = [n for n in HEADLINE if n in QUERIES]
        names += [n for n in QUERIES if n not in names]
    spark = get_spark("ddp-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # Warmup: run EVERY query once at the smallest SF so the timed pass
    # measures the plans, not JVM startup, codegen JIT, or Python-worker
    # pool spin-up. Iterative queries (connected components) and
    # pandas-UDF stages otherwise pay 2-4s of one-time cost that no
    # steady-state deployment would see.
    warmup_failures = warm_up(spark, names, "/root/testdata/sf0.001")
    drop_blocks(spark)

    # Median-of-3 timed passes: this host shows neighbor-load spikes
    # that can swing a single-shot measurement of a trivial query by
    # 10-16x (measured: a 0.2 s groupBy reading 3.6 s in one run and
    # 0.2 s in the next). The per-query MEDIAN of three passes is the
    # round-over-round comparable number (min-of-k underestimates
    # steady-state cost; a single shot is noise-bound); all raw passes
    # and per-pass totals are recorded in the detail file so the
    # spread stays visible and regressions stay attributable.
    # If the pass-total spread exceeds 10% the whole pass-set is
    # re-run once (load transients; the r6 committed record had a
    # 20.5% spread) and the attempt with the smaller spread is kept;
    # 1-minute load average is recorded per pass either way so a
    # contended record is self-describing.
    n_passes = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_PASSES", "3")))

    from statistics import median

    def spread_of(totals: list[float]) -> float:
        m = median(totals)
        return (max(totals) - min(totals)) / m if m else 0.0

    def pass_sums(passes: list[dict[str, float]]) -> list[float]:
        # over the queries every pass timed, so a failure in one pass
        # does not read as spread
        timed = set(names).intersection(*passes)
        return [round(sum(p[n] for n in timed), 3) for p in passes]

    attempts = 1
    attempt = run_passes(spark, names, sf_dir, n_passes)
    spread = spread_of(pass_sums(attempt[0]))
    if spread > 0.10 and n_passes > 1:
        attempts = 2
        attempt2 = run_passes(spark, names, sf_dir, n_passes)
        if spread_of(pass_sums(attempt2[0])) < spread:
            # keep the whole attempt together — timings, loadavg, shuffle
            # volume AND failures must describe the same run
            attempt = attempt2
    passes, loadavgs, shuffle_bytes, failures = attempt

    failed = {f["name"] for f in failures}
    timings = {
        n: round(median([p[n] for p in passes]), 3) for n in names if n not in failed
    }
    pass_totals = pass_sums(passes)
    spread = round(spread_of(pass_totals), 4)

    total = round(sum(timings.values()), 3)
    # cross-round comparability: the registry grows every round, so the
    # raw total conflates coverage with speed; per-query mean is the
    # stable metric (BASELINE.md tracks it per round)
    avg = round(total / max(len(timings), 1), 4)

    # Full per-query detail goes to a sidecar file; the driver's bench
    # record keeps only the last 2000 chars of stdout (BENCH_r01.json:
    # tail len 2000, parsed null because the full 100+-query JSON line
    # was truncated mid-line).  The printed line must fit that window.
    # A name-filtered run leaves the committed full-run file alone.
    detail = None if argv else "BENCH_DETAIL.json"
    if detail:
        here = os.path.dirname(os.path.abspath(__file__))
        with open(os.path.join(here, detail), "w") as fh:
            json.dump(
                {
                    "metric": "total_query_wall_clock",
                    "value": total,
                    "unit": "sec",
                    "avg_per_query": avg,
                    "estimator": f"median_of_{len(passes)}",
                    "pass_totals": pass_totals,
                    "pass_total_spread": spread,
                    "loadavg_per_pass": loadavgs,
                    "attempts": attempts,
                    "queries": timings,
                    "passes": passes,
                    "shuffle_bytes": shuffle_bytes,
                    "warmup_failures": warmup_failures,
                    "failures": failures,
                    "sf": sf,
                },
                fh,
                indent=1,
            )
            fh.write("\n")

    # Per-query entries: headline set first, then the PINNED list, then
    # slowest of the rest, greedily while the serialized line stays
    # under the tail budget.  The pinned list is the exact set the
    # round-9 line printed: ranking purely by current-round timing made
    # the printed set churn round-over-round (a query that got FASTER
    # fell out and the external comparison recorded it as
    # "dropped_from_bench" — 5 phantom drops in round 9), so the
    # driver's per-query diff now sees a stable set.  Additions only:
    # nothing is removed or renamed, and every query is still timed and
    # recorded in BENCH_DETAIL.json either way.
    ranked = [n for n in names if n in timings and n in HEADLINE]
    ranked += [n for n in PINNED_PRINT if n in timings and n not in HEADLINE]
    ranked += sorted(
        (n for n in timings if n not in set(ranked)),
        key=lambda n: -timings[n],
    )

    def line(shown: dict[str, float]) -> str:
        return json.dumps(
            {
                "metric": "total_query_wall_clock",
                "value": total,
                "unit": "sec",
                "avg_per_query": avg,
                "queries": shown,
                "sf": sf,
                "n_queries": len(timings),
                "queries_omitted": len(timings) - len(shown),
                "detail": detail,
            },
            separators=(",", ":"),
        )

    shown: dict[str, float] = {}
    for name in ranked:
        trial = {**shown, name: timings[name]}
        if len(line(trial)) > 1700:
            break
        shown = trial
    print(line(shown))

if __name__ == "__main__":
    main(sys.argv[1:])
