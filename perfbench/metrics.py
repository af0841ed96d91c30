"""Accounting for one benchmark run: which queries failed, and the
end-to-end and per-layer metrics over the queries that did not.

Input is the harness's result record (`result.json`): per-execution
samples with phase times, the repeated set-ups, and, for a traced run,
one counter set per traced pass. A query that fails anywhere (an
exception in any pass, a dropped final Sort, or an oracle mismatch) is
failed for the whole run and excluded from every timing.
"""
import statistics

# The bounded end-to-end metrics, in print order, with their units.
E2E_UNITS = {
    "panel_s": "s",
    "query_p50_s": "s",
    "cold_panel_s": "s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
}

STAGING_TAGS = ("shingles", "mhpairs", "mhsigs", "paircommons", "cclabels",
                "evedges", "quantemb", "ivfcells", "ivfpairs")


def wall(sample):
    return sample["build_s"] + sample["plan_s"] + sample["execute_s"]


def failed_queries(result, oracle_failures):
    """Map each failed query to the first reason recorded for it."""
    failed = {}
    for s in result["samples"]:
        if not s["ok"]:
            failed.setdefault(s["query"], f'{s["kind"]} pass: {s["error"]}')
    for name, reason in sorted(oracle_failures.items()):
        failed.setdefault(name, f"oracle: {reason}")
    return failed


def pass_totals(samples, kind, failed):
    """Sum of per-query wall time of each pass of `kind`, failed excluded."""
    totals = {}
    for s in samples:
        if s["kind"] == kind and s["query"] not in failed:
            totals[s["pass"]] = totals.get(s["pass"], 0.0) + wall(s)
    return [totals[p] for p in sorted(totals)]


def query_medians(samples, kind, failed):
    """Each query's median wall time across the passes of `kind`, failed
    queries excluded."""
    per_query = {}
    for s in samples:
        if s["kind"] == kind and s["query"] not in failed:
            per_query.setdefault(s["query"], []).append(wall(s))
    return [statistics.median(v) for v in per_query.values()]


def median_pass(samples, kind, failed):
    """A robust warm pass: the sum of the queries' median wall times."""
    return sum(query_medians(samples, kind, failed))


def setup_seconds(result):
    """Median over the repeated set-ups of session build + staging."""
    return statistics.median(
        st["session_s"] + sum(st["staging"].values()) for st in result["setups"])


def end_to_end(result, failed):
    samples = result["samples"]
    warm = [wall(s) for s in samples if s["kind"] == "warm" and s["query"] not in failed]
    m = {
        "panel_s": median_pass(samples, "warm", failed),
        "query_p50_s": statistics.median(warm),
        "cold_panel_s": sum(pass_totals(samples, "cold", failed)),
        "setup_s": setup_seconds(result),
        "peak_rss_mb": result["peak_rss_mb"],
    }
    # Printed, not bounded. A run holds 8-21 warm samples, too few for a
    # percentile above the median with ten samples beyond it, so the tail
    # is the panel's long pole, the slowest query's median; its spread
    # over ten runs reached 0.31 of its median, past any usable bound.
    info = {"samples": len(warm), "failed_frac": len(failed) / len(result["queries"]),
            "query_tail_s": max(query_medians(samples, "warm", failed))}
    return m, info


def per_layer(result, failed):
    """Per-layer metrics of a traced run: the mean over traced passes of
    each pass counter, plus set-up, codegen and codec figures."""
    passes = result["traced_passes"]
    m = {k: statistics.fmean(p[k] for p in passes) for k in passes[0]}
    for tag in STAGING_TAGS:
        m[f"staging.{tag}_s"] = statistics.median(
            st["staging"].get(tag, 0.0) for st in result["setups"])
    m["staging.build_s"] = statistics.median(
        sum(st["staging"].values()) for st in result["setups"])
    m["staging.mb"] = result["staging_mb"]
    m.update(result["layers"])
    untraced = median_pass(result["samples"], "warm", failed)
    traced = median_pass(result["samples"], "traced", failed)
    m["trace.overhead_frac"] = traced / untraced - 1
    return m
