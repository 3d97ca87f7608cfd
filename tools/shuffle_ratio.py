#!/usr/bin/env python3
"""Merge two graft.Bench profile.json files, taken at two scale factors,
into one artifact with scaling ratios. For a 10x data step, a ratio near 10
on shuffle_write_bytes means the operator's network cost is linear in the
input; a ratio far above the row-growth factor is the signature of a
quadratic candidate explosion that wall time in one JVM (where a shuffle is
a memcpy) and the exchange-count pins in PlanAuditSpec cannot see.

The shuffle-heavy audit set (every dedup family member, the composite
pipelines, the text/TF-IDF shuffles, sessionization, the as-of join, and
two KPI star joins as a low-water control), one run per scale factor:

  SPARK_GRAFT_SF_DIR=<sf dir> SPARK_GRAFT_BENCH_OUT=<dir>/bench_full.json \
  SPARK_GRAFT_BENCH_REPS=1 SPARK_GRAFT_BENCH_ONLY=dedup_exact,dedup_minhash,\
dedup_jaccard,dedup_simhash,dedup_fuzzy,dedup_incremental,dedup_embed_scaled,\
dedup_clusters,pipeline_curate,pipeline_decontam,text_heavy,text_tfidf,\
events_sessions,events_asof,similar_topk,kpi_by_dept,kpi_anomalies_at_scale \
    sbt "runMain graft.Bench"          # writes <dir>/profile.json

Usage: shuffle_ratio.py <small_profile.json> <big_profile.json> <out.json> [step]
       step = the data growth factor between the two runs (default 10).
"""
import json
import sys


def main() -> None:
    small_path, big_path, out_path = sys.argv[1], sys.argv[2], sys.argv[3]
    step = float(sys.argv[4]) if len(sys.argv) > 4 else 10.0
    small = json.load(open(small_path))
    big = json.load(open(big_path))
    def totals(record):
        # the scalar totals; the stage rows and node metrics stay in the profiles
        return {k: v for k, v in record.items() if not isinstance(v, (list, dict))}

    merged = {}
    for name, s in small["queries"].items():
        b = big["queries"].get(name)
        if b is None:
            continue
        s, b = totals(s), totals(b)

        def ratio(key):
            return round(b[key] / s[key], 2) if s.get(key) else None

        merged[name] = {
            "small": s,
            "big": b,
            "ratio_shuffle_write": ratio("shuffle_write_bytes"),
            "ratio_shuffle_read": ratio("shuffle_read_bytes"),
            "ratio_input": ratio("input_bytes"),
            "ratio_wall": ratio("wall_sec"),
        }
    worst = max(
        (q["ratio_shuffle_write"] or 0.0) for q in merged.values()
    )
    out = {
        "experiment": "shuffle_bytes_scaling",
        "small_sf": small["sf"],
        "big_sf": big["sf"],
        "data_step": step,
        "worst_shuffle_write_ratio": worst,
        "queries": merged,
    }
    with open(out_path, "w") as f:
        json.dump(out, f, indent=1, sort_keys=False)
        f.write("\n")
    for name, q in sorted(merged.items(), key=lambda kv: -(kv[1]["ratio_shuffle_write"] or 0)):
        print(
            f"{name:28s} write x{q['ratio_shuffle_write']}  "
            f"read x{q['ratio_shuffle_read']}  input x{q['ratio_input']}  "
            f"wall x{q['ratio_wall']}"
        )
    print(f"worst shuffle-write ratio: x{worst} (data step x{step})")


if __name__ == "__main__":
    main()
