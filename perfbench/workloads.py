"""The benchmark's workloads: scale, registry queries, and the query ->
module map that module-level metrics are summed over."""
import os

# the generated test tables, one directory per scale (TESTDATA.md)
TESTDATA = os.path.expanduser("~/testdata")
DEFAULT_SEED = 42

WORKLOADS = {
    "relational": {
        "sf": "sf0.1",
        "tables": ["customer", "events", "lineitem", "orders", "part"],
        "queries": [
            "q1_agg", "q_join_nonequi", "q_asof", "q_overlap", "q_dcast",
            "q_fsetdiff", "q_fread_roundtrip",
        ],
    },
    "ordered": {
        "sf": "sf0.01",
        "tables": ["customer", "events", "orders"],
        "queries": [
            "q_cumsum_global", "q_nafill_global", "q_shift", "q_rank",
            "q_nafill_locf",
        ],
    },
    "curation": {
        "sf": "sf0.1",
        "tables": ["documents", "embeddings"],
        "queries": [
            "q_contamination_fuzzy", "q_dedup_minhash", "q_dedup_oversized",
            "q_ann_lsh", "q_quality_filter", "q_repetition", "q_bpe_tokens",
        ],
    },
}

MODULES = [
    "DT", "operators.Joins", "operators.Reshape", "operators.SetOps",
    "sources", "operators.Windows", "operators.GlobalOrdered", "text",
    "dedup", "sim", "curate",
]

_GLOBAL = ("DT", "operators.Windows", "operators.GlobalOrdered")

# query -> the modules its registry function reaches, directly or through
# another module (read off the sources; the table in README.md).
QUERY_MODULES = {
    "q1_agg": (),
    "q_join_nonequi": ("DT",),
    "q_asof": ("DT", "operators.Joins"),
    "q_overlap": ("DT", "operators.Joins"),
    "q_dcast": ("DT", "operators.Reshape"),
    "q_fsetdiff": ("DT", "operators.SetOps"),
    "q_fread_roundtrip": ("sources",),
    "q_cumsum_global": _GLOBAL,
    "q_nafill_global": _GLOBAL,
    "q_shift": ("DT", "operators.Windows"),
    "q_rank": ("DT", "operators.Windows"),
    "q_nafill_locf": ("DT", "operators.Windows"),
    "q_contamination_fuzzy": ("curate", "dedup", "text"),
    "q_dedup_minhash": ("dedup", "text"),
    "q_dedup_oversized": ("dedup", "text"),
    "q_ann_lsh": ("sim",),
    "q_quality_filter": ("text",),
    "q_repetition": ("text",),
    "q_bpe_tokens": ("text",),
}
