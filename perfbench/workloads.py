"""Workload definitions and the seeded generators that turn a workload
seed into the inputs the JVM half runs: query orders, the request mix,
and the watch loop's edge batches. The engine sees only these inputs.
The same seed always yields the same inputs (`test_bench.py`)."""
import random

import pyarrow.parquet as pq

# The index-and-search requests an agent issues as MCP tool calls. The
# graph reads are left to watch-churn: their BFS memo chains cost ~40 s of
# first evaluation on a 4-core host, and `vec_knn_pq` trains its codebooks
# for ~10 s, more than one run can spend on its warm-up (README.md,
# "Budget").
SEARCH_MIX = (
    ["vec_knn_" + s for s in
     ("brute", "ivf", "ivf_probe", "min_score", "filtered", "kmeans")]
    + ["fts_bm25", "fts_boolean", "fts_fuzzy", "fts_near", "fts_near_phrase",
       "fts_phrase", "fts_search_page", "fts_snippet", "fts_term_score",
       "fts_wildcard", "hybrid_search", "tag_filter_search"]
    + ["dsl_agg", "dsl_chunks", "dsl_functions", "dsl_join_filter",
       "dsl_modules", "dsl_orphans", "dsl_types"]
    + ["pattern_search", "pattern_search_all", "pattern_search_gap"])

# watch-churn's reader, in a fixed order: a vector read whose memo does
# not depend on the edges but is dropped by the dir-wide invalidation, and
# graph reads whose memos do. The longest read goes last: the first round
# after the cold pass runs 4.5-6 s, and its last read can meet the next
# reload; when that was the short vector read, it doubled or not with the
# host's speed and moved the median.
CHURN_GRAPH_READS = ["graph_khop", "graph_dependents"]
CHURN_READER = ["vec_knn_ivf_probe"] + CHURN_GRAPH_READS

# Whole rounds a run sends at --seconds 10, scaled linearly with
# --seconds: every run of a workload measures the same requests, so the
# sample count does not depend on how fast the run happened to be. At HEAD
# on a 4-vCPU host the steady phase then takes 12-25 s (search-warm, 56
# requests) and 25-30 s (watch-churn, 15 reads, one round per reload).
STEADY_ROUNDS = {"search-warm": 2, "watch-churn": 5}

# Outputs that are approximate by design (sketches, LSH, PQ codes,
# iteratively trained BPE merges): checked on rows and schema only.
APPROXIMATE = {"q9b_approx_distinct", "q13b_approx_percentiles",
               "vec_knn_join_ann", "vec_knn_pq", "text_bpe_train",
               "text_bpe_apply"}

# A reload takes 0.5-2 s at HEAD and a reader round 3-4 s, so a round that
# starts when a reload lands ends before the next batch is due. At a 4 s
# period the round's last read overlapped the next reload or not depending
# on the host's speed, and its latency doubled when it did.
CHURN_PERIOD_MS = 6000
CHURN_NEW_PER_BATCH = 20
CHURN_RENOTIFY_PER_BATCH = 10


def _perm(rng, names):
    xs = list(names)
    rng.shuffle(xs)
    return xs


def base_edges(corpus_dir):
    t = pq.read_table(f"{corpus_dir}/lineitem.parquet",
                      columns=["l_suppkey", "l_partkey"])
    return set(zip(t.column(0).to_pylist(), t.column(1).to_pylist()))


def churn_batches(seed, n_batches, base, n_supp, n_part,
                  new_per_batch=CHURN_NEW_PER_BATCH,
                  renotify_per_batch=CHURN_RENOTIFY_PER_BATCH):
    """Edge batches for the watch loop. Each batch carries edges the graph
    has never held, plus edges it already holds (base edges or new edges
    of an earlier batch), whose reload must add nothing, except the last
    batch, which re-notifies base edges only and is sent alone after the
    reader's last round, so every run also has one whole no-op reload.
    (The batches before it that a run does not reach are never sent, so
    the last batch cannot count on their edges being known.)"""
    rng = random.Random(f"churn-{seed}")
    free = n_supp * n_part - len(base)
    if free < 2 * n_batches * new_per_batch:
        raise ValueError(f"only {free} supplier-part pairs are not edges yet")
    base_sorted = sorted(base)
    sent_new = []
    seen = set(base)
    batches = []
    for i in range(n_batches):
        last = i == n_batches - 1
        fresh = []
        while not last and len(fresh) < new_per_batch:
            e = (rng.randrange(n_supp), rng.randrange(n_part))
            if e not in seen:
                seen.add(e)
                fresh.append(e)
        pool_base = rng.sample(base_sorted, renotify_per_batch)
        again = [rng.choice(sent_new) for _ in range(renotify_per_batch // 2)] \
            if sent_new and not last else []
        renotify = pool_base[:renotify_per_batch - len(again)] + again
        batches.append({"new": [list(e) for e in fresh],
                        "renotify": [list(e) for e in renotify]})
        sent_new.extend(fresh)
    return batches


def rounds(workload, seconds):
    return max(1, round(STEADY_ROUNDS[workload] * seconds / 10))


def inputs(workload, seed, all_queries, corpus_dir, seconds):
    """The JVM's inputs for one run of `workload`."""
    rng = random.Random(f"{workload}-{seed}")
    if workload == "cold-sweep":
        qs = sorted(all_queries)
        return {"cold": _perm(rng, qs), "steady": [_perm(rng, qs)]}
    if workload == "search-warm":
        return {"cold": _perm(rng, SEARCH_MIX),
                "steady": [_perm(rng, SEARCH_MIX) for _ in
                           range(rounds(workload, seconds))]}
    if workload == "watch-churn":
        base = base_edges(corpus_dir)
        n_supp = pq.read_metadata(f"{corpus_dir}/supplier.parquet").num_rows
        n_part = pq.read_metadata(f"{corpus_dir}/part.parquet").num_rows
        # the writer stops with the reader; this many batches outlast it
        n_batches = int(4 * seconds * 1000 // CHURN_PERIOD_MS) + 10
        return {"cold": _perm(rng, CHURN_READER),
                "churn_rounds": [CHURN_READER] * rounds(workload, seconds),
                "churn": {"period_ms": CHURN_PERIOD_MS,
                          "base_edges": len(base),
                          "batches": churn_batches(seed, n_batches, base,
                                                   n_supp, n_part)}}
    raise ValueError(f"unknown workload {workload!r}")
