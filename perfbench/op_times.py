#!/usr/bin/env python3
"""Records per-op times of the candidate ops and derives each workload's op
list from them.

Usage (from the root of a checkout):
  python3 perfbench/op_times.py measure   # writes perfbench/op_times.json
  python3 perfbench/op_times.py select    # prints the lists the rules pick

`measure` runs each candidate list once in the benchmark's JVM (local[nproc],
the benchmark's session) with a traced run: a cold pass, the untimed pass and
`WARM_PASSES` warm passes. Per op it records the module of SparkEntry.queries
that holds it, its cold wall, its wall in each untraced warm pass and the
graft.plans nodes of its executed plan. `select` applies `select` with each
workload's `RULES` to the recorded file; the benchmark's tests check
workloads.json against it.
"""
import json
import os
import statistics
import sys

import run as bench

# The cheap relational ops: BENCH_r14_c8 time < 0.30 s, outside the llm_,
# sink_, stream_ and graph_ families and the Llm* and Streaming modules, and
# not writing files.
SHORT_CANDIDATES = """
agg_approx_topk agg_bitwise_bool agg_filter_clause agg_histogram agg_listagg agg_mode
array_basic array_higher_order array_reduce_stats cast_try cast_types catalog_v2_function
cond_case date_parts dedup_distinct filter_conjunctive filter_null_semantics hash_funcs
join_broadcast join_cross join_left_anti join_range_strategy limit_offset map_entries
math_basic math_bitwise reshape_base64_hex reshape_date_format reshape_explode_outer
scan_dsv2_agg_pushdown scan_dsv2_columnar scan_dsv2_limit_pushdown scan_dsv2_metadata_cols
scan_dsv2_pushdown scan_dsv2_runtime_filter scan_dsv2_topn_pushdown scan_full
scan_projection set_union_all set_union_byname sort_hash_sample sort_multicol
sort_nulls_ordering str_basic str_collation str_regexp str_split_pos str_url sub_in
sub_in_multicol sub_not_exists sub_not_in_null topk_global topk_per_group_merge ts_parts
udtf_generator util_file_plan""".split()

# The document-corpus ops (LlmCuration, LlmExtras, LlmPipeline modules) that
# llm_curation is drawn from.
LLM_CANDIDATES = """
llm_dedup_containment llm_kmeans_train_k llm_dedup_prefix_jaccard llm_contamination_sweep
llm_source_similarity llm_dedup_ngram_jaccard llm_curation_e2e llm_perplexity_filter
llm_lsh_band_recall llm_dedup_substring llm_bpe_merge_step llm_embed_outliers
llm_pipeline_e2e llm_bpe_apply llm_bm25_topk llm_minhash_accuracy llm_decontaminate
llm_dedup_near llm_sim_mmr graph_pagerank_fixed""".split()

CANDIDATES = {"relational_short": (SHORT_CANDIDATES, False), "llm_curation": (LLM_CANDIDATES, True)}
WARM_PASSES = 6        # 3 of them untraced
FILE = bench.HERE / "op_times.json"

# relational_short keeps the 14 cheapest ops, which fit a ~4 s pass, plus one
# op per module and the ops that plan graft.plans nodes, so each of its layers
# is exercised. llm_curation keeps one op per module: the document ops cost
# about 1 s each, so a pass of three fits the run budget.
RULES = {"relational_short": {"cheapest": 14, "graft_nodes": True},
         "llm_curation": {"cheapest": 0, "graft_nodes": False}}


def select(times, cheapest, graft_nodes):
    """A workload's ops, in order of choice:
    1. the `cheapest` candidates by median warm wall;
    2. for each module that holds candidates but none chosen, its cheapest;
    3. with `graft_nodes`, every other candidate whose executed plan holds a
       graft.plans node."""
    ranked = sorted(times, key=lambda op: (times[op]["warm_ms_median"], op))
    chosen = ranked[:cheapest]
    for module in sorted({t["module"] for t in times.values()}):
        if not any(times[op]["module"] == module for op in chosen):
            chosen.append(next(op for op in ranked if times[op]["module"] == module))
    if graft_nodes:
        chosen += [op for op in ranked if times[op]["graft_nodes"] > 0 and op not in chosen]
    return chosen


def measure():
    bench.guard_env()
    sf_dir = bench.find_sf_dir()
    bench.check_inputs(sf_dir, bench.TABLES)
    cores = len(os.sched_getaffinity(0))
    cp = bench.build()
    with bench.RunDir() as rd:
        modules = bench.run_jvm(cp, rd, "inventory", 1, "inventory")[0]["modules"]
    out = {"cores": cores, "heap": bench.HEAP, "warm_passes": WARM_PASSES, "workloads": {}}
    for name, (ops, memos) in CANDIDATES.items():
        with bench.RunDir() as rd:
            res = bench.run_jvm(cp, rd, "run", cores, "run", sf=sf_dir, ops=",".join(ops), seed=0,
                                seconds=3600, trace=1, memos=int(memos),
                                warm_passes=WARM_PASSES, verify_dir=rd.path / "verify")[0]
        passes = [res["cold"], res["verify"]] + res["warm"]
        failed = sorted({o["op"] for p in passes for o in p["ops"] if not o["ok"]})
        if failed:
            raise bench.BenchError(f"{name}: ops failed: {failed}")

        def walls(ps):
            return {o["op"]: o["build_ms"] + o["plan_ms"] + o["exec_ms"] for p in ps for o in p["ops"]}
        untraced = [walls([p]) for p in res["warm"] if not p["traced"]]
        nodes = {o["op"]: o["graft_nodes"] for p in res["warm"] if p["traced"] for o in p["ops"]}
        cold = walls([res["cold"]])
        out["workloads"][name] = {op: {
            "module": modules[op],
            "cold_ms": round(cold[op], 1),
            "warm_ms": [round(w[op], 1) for w in untraced],
            "warm_ms_median": round(statistics.median(w[op] for w in untraced), 1),
            "graft_nodes": nodes[op]} for op in ops}
        print(f"{name}: cold {res['cold']['wall_s']:.1f} s, warm "
              f"{[round(p['wall_s'], 1) for p in res['warm']]} s", file=sys.stderr)
    FILE.write_text(json.dumps(out, indent=1, sort_keys=True) + "\n")


def main(argv):
    if argv[1:] == ["measure"]:
        measure()
    elif argv[1:] == ["select"]:
        times = json.loads(FILE.read_text())["workloads"]
        print(json.dumps({name: select(times[name], **rule) for name, rule in RULES.items()}, indent=1))
    else:
        print(__doc__, file=sys.stderr)
        return 2
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
