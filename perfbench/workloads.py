"""Workloads of the benchmark and the static query -> module map.

Each timed query is tagged with the one repo module (src/main/scala/graft/
<module>) whose operator it headlines; the traced run sums the per-layer
metrics of each module over its queries. `families` lists every gated query
of each family; the timed workloads are fixed subsets of them, chosen from
measured per-query costs (README.md lists them and the share of each
family's time they cover), and `run.py --selftest --full` checks whole
families.
"""

MODULES = ["ops", "spectral", "models", "agg", "ingest",
           "dedup", "text", "similarity", "multimodal", "pipeline"]

WORKLOADS = {
    "ts_bulk": {
        "data": "bulk",
        "queries": {
            "q01_sliding_basic": "ops",
            "q67_group_quantiles": "agg",
            "q39_acf_by_key": "spectral",
            "q64_granger_by_key": "models",
            "q101_orange_csv_roundtrip": "ingest",
        },
    },
    "curation": {
        "data": "base",
        "queries": {
            "q116_minhash_index_search": "dedup",
            "q12_text_stats": "text",
            "q58_ivf_topk": "similarity",
            "q79_media_decode": "multimodal",
            "q93_dsir": "pipeline",
        },
    },
}


def _q(numbers, names):
    by_number = {int(n.split("_")[0][1:]): n for n in names}
    return [by_number[i] for i in numbers]


def families(all_queries):
    """The three query families over the library's gated query names, each
    with the input it is checked on."""
    curation = [12, 13, 14, 15, 16, 17, 18, 19, 20, 21, 22, 35, 50, 53, 57, 58,
                59, 60, 61, 62, 66, 68, 70, 71, 72, 73, 74, 75, 77, 79, 89, 90,
                91, 92, 93, 94, 95, 96, 97, 98] + list(range(110, 126)) + \
               [129, 132, 133, 134, 135]
    bulk = [1, 2, 3, 4, 5, 8, 10, 11, 25, 26, 27, 30, 37, 38, 39, 40, 41, 42,
            44, 48, 49, 52, 54, 55, 56, 64, 65, 67, 69, 76, 78, 80, 81, 83, 84,
            85, 86, 87, 88, 99, 100, 101, 103, 106, 107, 108, 109]
    numbers = {int(n.split("_")[0][1:]) for n in all_queries}
    ts = sorted(numbers - set(curation))
    return {"ts_interactive": ("base", _q(ts, all_queries)),
            "ts_bulk": ("bulk", _q(bulk, all_queries)),
            "curation": ("base", _q(curation, all_queries))}


# Golden-value oracles replay checked-in outputs of the fixed sf0.01/sf0.1
# test tables (picked by the events row count), so they cannot match
# generated inputs.
GOLDEN = {"q31_arima_forecast", "q32_var_forecast", "q33_model_eval",
          "q34_granger", "q127_fit_on_interp_glue"}
