"""Dump physical plans for the pipeline and headline queries -> PLANS.md.

Checks the plan properties that matter at 100 TB and fails loudly if they
regress:

* parquet scans carry PushedFilters / a pruned ReadSchema (no full-width scan
  for narrow projections)
* dictionary joins are BroadcastHashJoin (never shuffle the fact table)
* exactly ONE Exchange in the coalesce pipeline (the conv_id shuffle; the
  tiny cap-stats pre-aggregate is allowed its own)
* whole-stage codegen spans cover the narrow stages
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pyspark.sql import functions as F  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402
from transcriptpipe import pipeline, synth, schemas  # noqa: E402
from transcriptpipe.session import get_spark  # noqa: E402

SF = "/root/testdata/sf0.01"


def plan_of(df) -> str:
    return df._jdf.queryExecution().explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def main() -> None:
    spark = get_spark(app_name="explain", cpus=4)
    spark.sparkContext.setLogLevel("ERROR")
    out = ["# PLANS — physical plans for the headline operators\n"]
    checks: list[tuple[str, bool, str]] = []

    # --- transcript pipeline
    tdf = spark.createDataFrame(
        synth.gen_transcripts(n_convs=100), schema=schemas.TRANSCRIPTS
    )
    import re as _re

    def shuffle_exchanges(plan: str) -> int:
        """Count shuffle Exchange operator headers only (not broadcasts,
        not the details section repeating each operator)."""
        return len(_re.findall(r"\(\d+\) Exchange\b", plan))

    jd = pipeline.build(spark, tdf)["json_doc"]
    p = plan_of(jd)
    out.append("## transcript pipeline -> json_doc\n```\n" + p + "\n```\n")
    n_exch = shuffle_exchanges(p)
    checks.append(("pipeline = ONE fact-table shuffle",
                   n_exch == 1, f"shuffle Exchange count = {n_exch}"))

    # sql engine: window + aggregation + args branch must share the ONE
    # conv_id exchange (ReusedExchange), not re-shuffle the fact table
    jd_sql = pipeline.build(
        spark, tdf, pipeline.PipeConf(engine="sql", langs=("json",)))["json_doc"]
    p_sql = plan_of(jd_sql)
    out.append("## transcript pipeline (sql engine) -> json_doc\n```\n" + p_sql + "\n```\n")
    n_sql = shuffle_exchanges(p_sql)
    # round 5 (VERDICT r4 #1): the EXECVE args branch is now per-row array
    # algebra collected in the MAIN aggregation (relational._arg_tokens /
    # _attach_args) — no separate filtered re-scan of the fact table, no
    # post-agg join.  The static plan has exactly TWO shuffle exchanges:
    # the one conv_id fact repartition + the tiny broadcast-bound cap-stats
    # pre-aggregate.  The fact table is scanned ONCE on the render path.
    checks.append(("sql engine: ONE fact exchange (+ cap-stats pre-agg)",
                   n_sql == 2, f"shuffle Exchanges = {n_sql}"))
    checks.append(("dict enrichment broadcasts", "BroadcastHashJoin" in p or "BroadcastExchange" in p,
                   "no broadcast found"))

    # --- column pruning / filter pushdown on a narrow projection
    ev = spark.read.parquet(f"{SF}/events.parquet")
    narrow = ev.filter(F.col("event_type") == "purchase").select("user_id", "value")
    p = plan_of(narrow)
    out.append("## pushdown probe (filter+project on events)\n```\n" + p + "\n```\n")
    checks.append(("filter pushed to scan", "PushedFilters: [" in p and "event_type" in p.split("PushedFilters")[1][:200],
                   "no pushed filter"))
    checks.append(("schema pruned", "props" not in p.split("ReadSchema")[1][:300],
                   "props read despite projection"))

    # --- TPC-H Q3: dimension must broadcast
    q3 = entrymod.q_tpch_q3(spark, SF)
    p = plan_of(q3)
    out.append("## tpch_q3\n```\n" + p + "\n```\n")
    checks.append(("q3 customer broadcast", "BroadcastHashJoin" in p, "no broadcast join"))
    checks.append(("q3 top-k is TakeOrdered", "TakeOrderedAndProject" in p, "global sort instead of top-k"))

    # --- coalesce contract query
    p = plan_of(entrymod.q_ev_coalesce(spark, SF))
    out.append("## ev_coalesce\n```\n" + p + "\n```\n")
    checks.append(("coalesce = one exchange", shuffle_exchanges(p) == 1,
                   f"{shuffle_exchanges(p)} exchanges"))

    # --- round-5 decontamination / packing operators: candidate generation
    # must be equi-joins (shingle / LSH-bucket / hash keys) — at 10^10 docs
    # a theta join or cartesian here is fatal
    for qname in ("doc_decontam", "emb_decontam"):
        p = plan_of(getattr(entrymod, f"q_{qname}")(spark, SF))
        out.append(f"## {qname}\n```\n" + p + "\n```\n")
        bad = ("CartesianProduct" in p) or ("BroadcastNestedLoopJoin" in p)
        checks.append((f"{qname}: equi-joins only (no theta/cartesian)",
                       not bad, "found a non-equi join operator"))
    p = plan_of(entrymod.q_doc_packed(spark, SF))
    out.append("## doc_packed\n```\n" + p + "\n```\n")
    checks.append(("doc_packed = one exchange (bucket groupBy)",
                   shuffle_exchanges(p) == 1,
                   f"{shuffle_exchanges(p)} exchanges"))

    # --- round-5 curation operators: PII masking and source mixing must be
    # NARROW (no exchange — they run inside the 100 TB scan), and the
    # stratified sampler's rank<=k must compile to WindowGroupLimit so map
    # tasks ship only local top-k into the stratum shuffle
    p = plan_of(entrymod.q_doc_pii_mask(spark, SF))
    out.append("## doc_pii_mask\n```\n" + p + "\n```\n")
    checks.append(("pii_mask is narrow (zero exchanges)",
                   shuffle_exchanges(p) == 0,
                   f"{shuffle_exchanges(p)} exchanges"))
    checks.append(("pii_mask stays codegen'd (no Python UDF)",
                   "BatchEvalPython" not in p and "ArrowEvalPython" not in p,
                   "Python eval node in plan"))
    p = plan_of(entrymod.q_doc_mix(spark, SF))
    out.append("## doc_mix\n```\n" + p + "\n```\n")
    checks.append(("doc_mix is narrow (zero exchanges)",
                   shuffle_exchanges(p) == 0,
                   f"{shuffle_exchanges(p)} exchanges"))
    p = plan_of(entrymod.q_doc_stratified_sample(spark, SF))
    out.append("## doc_stratified_sample\n```\n" + p + "\n```\n")
    checks.append(("stratified sample pushes WindowGroupLimit",
                   "WindowGroupLimit" in p, "no WindowGroupLimit in plan"))
    p = plan_of(entrymod.q_doc_top_ngrams(spark, SF))
    out.append("## doc_top_ngrams\n```\n" + p + "\n```\n")
    checks.append(("top_ngrams top-k is TakeOrdered (no global sort)",
                   "TakeOrderedAndProject" in p, "global sort instead of top-k"))
    # boilerplate removal: the frequent-line set must come back as a
    # BROADCAST join (never reshuffle the corpus lines against it), and
    # full-text rows may cross the wire at most once (reassembly groupBy)
    # on top of the two narrow-projection census shuffles
    p = plan_of(entrymod.q_doc_boilerplate(spark, SF))
    out.append("## doc_boilerplate\n```\n" + p + "\n```\n")
    checks.append(("boilerplate frequent set is broadcast",
                   "BroadcastHashJoin" in p, "frequent-line join not broadcast"))
    checks.append(("boilerplate <= 3 shuffles (census x2 + reassembly)",
                   shuffle_exchanges(p) <= 3,
                   f"{shuffle_exchanges(p)} exchanges"))

    # --- round-5 second batch: normalization and the filter cascade are
    # NARROW (they ride the ingest scan); BM25 broadcasts its single-row
    # corpus stats; the shard assigner's global prefix sum must be the
    # two-pass form — range exchange + pid exchange on the NARROW
    # projection, offsets broadcast, never a single-partition global window
    p = plan_of(entrymod.q_doc_normalize(spark, SF))
    out.append("## doc_normalize\n```\n" + p + "\n```\n")
    checks.append(("normalize is narrow (zero exchanges)",
                   shuffle_exchanges(p) == 0,
                   f"{shuffle_exchanges(p)} exchanges"))
    p = plan_of(entrymod.q_doc_filter_chain(spark, SF))
    out.append("## doc_filter_chain\n```\n" + p + "\n```\n")
    checks.append(("filter chain is narrow (zero exchanges)",
                   shuffle_exchanges(p) == 0,
                   f"{shuffle_exchanges(p)} exchanges"))
    checks.append(("filter chain stays codegen'd (no Python UDF)",
                   "BatchEvalPython" not in p and "ArrowEvalPython" not in p,
                   "Python eval node in plan"))
    p = plan_of(entrymod.q_doc_bm25(spark, SF))
    out.append("## doc_bm25\n```\n" + p + "\n```\n")
    checks.append(("bm25 corpus stats broadcast (no shuffle of docs)",
                   "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p,
                   "stats not broadcast"))
    checks.append(("bm25 top-k is TakeOrdered", "TakeOrderedAndProject" in p,
                   "global sort instead of top-k"))
    p = plan_of(entrymod.q_doc_shards(spark, SF))
    out.append("## doc_shards\n```\n" + p + "\n```\n")
    # round 6: deterministic md5-prefix buckets replace repartitionByRange —
    # no RangePartitioner sampling pass, no persist (ADVICE r5 leak). Data
    # shuffles: ONE hash(_pid) for the final window; the other exchanges
    # carry |buckets| rows (per-bucket totals agg + the single-partition
    # offsets window) — control plane, not data
    checks.append(("shard: no range-sampling pass (zero rangepartitioning)",
                   p.count("rangepartitioning") == 0,
                   f"{p.count('rangepartitioning')} range exchanges"))
    checks.append(("shard: nothing persisted (no InMemoryTableScan)",
                   "InMemoryTableScan" not in p,
                   "unexpected cached frame"))
    checks.append(("shard: <=3 exchanges (1 data + 2 control-plane)",
                   shuffle_exchanges(p) <= 3,
                   f"{shuffle_exchanges(p)} exchanges"))
    checks.append(("shard offsets broadcast", "BroadcastHashJoin" in p,
                   "offsets join not broadcast"))
    p = plan_of(entrymod.q_doc_keep_best(spark, SF))
    out.append("## doc_keep_best\n```\n" + p + "\n```\n")
    checks.append(("keep_best rank pushes WindowGroupLimit",
                   "WindowGroupLimit" in p, "no WindowGroupLimit in plan"))

    out.append("## checks\n")
    failed = 0
    for name, ok, detail in checks:
        out.append(f"- {'PASS' if ok else 'FAIL'}: {name}" + ("" if ok else f" ({detail})"))
        if not ok:
            failed += 1
    (Path(__file__).resolve().parents[1] / "PLANS.md").write_text("\n".join(out))
    print("\n".join(out[-len(checks):]))
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
