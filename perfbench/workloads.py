"""The benchmark's three workloads.

Each workload is a *pass*: the fixed ops one pass issues, chosen from the
workload's family (README.md lists the families) so that a run (session,
warm-up pass, timed passes) fits the benchmark's time budget. `@mf_train`
and `@pa_train` are the two trainer ops (ps.MfTrainer.train,
ps.PaTrainer.train).

`nominal_pass_s` is the median pass wall measured at local[4] on the
unchanged engine; a run makes the fewest timed passes that take at least
`seconds` at that pace, so a faster engine measures the same work in a
shorter window.
"""
import math

TRAINERS = ("@mf_train", "@pa_train")

WORKLOADS = {
    "olap_short": {
        "pass": ("q1_pricing q3_shipping q10_returns join_inner agg_grouping_sets "
                 "sub_correlated win_rank fn_json").split(),
        "nominal_pass_s": 2.5,
    },
    "llm_dedup_sim": {
        "pass": "dedup_near dedup_containment dedup_simhash sim_cosine text_tfidf".split(),
        "nominal_pass_s": 7.0,
    },
    "ps_online": {
        "pass": list(TRAINERS) + ["stream_live_state", "sink_parquet"],
        "nominal_pass_s": 8.0,
    },
}


def timed_passes(name, seconds):
    return max(1, math.ceil(seconds / WORKLOADS[name]["nominal_pass_s"]))


def all_ops():
    """Every op of every workload's pass, sorted."""
    return sorted({q for w in WORKLOADS.values() for q in w["pass"]})
