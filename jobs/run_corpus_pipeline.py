"""spark-submit entry point: training-data corpus pipeline over documents.

The non-KG half of the engine as one checkpointed job: QC profiling →
PII redaction → exact + MinHash-LSH dedup → cluster resolution →
repeated-span boilerplate scoring → unigram familiarity scoring →
(optional) benchmark decontamination (exact-index or Bloom-pruned) →
drop-provenance audit table (mixer_audit — kept flag provably equals
export membership) → (optional) DSIR importance-score table →
filtered corpus export → (optional) per-language reservoir cap →
split assignment + length stats + mergeable token sketches (HLL
distinct, Count-Min).  This is the standard pretraining-data shape
(C4/Gopher filter family + near-dup removal + GPT-3-style
decontamination + per-source caps) expressed as resumable table stages.

Cluster usage mirrors jobs/run_pipeline.py (--py-files zip, Iceberg
catalog or parquet warehouse).  Sandbox:

    python jobs/run_corpus_pipeline.py --input /root/testdata/sf0.01 \
      --output /tmp/corpus_out

Stages are checkpointed via knowledge_graph_spark.checkpoint.StageRunner:
re-running with the same --output resumes; upstream recomputes invalidate
downstream (manifest fingerprints).  Every stage is native Column algebra
or bucketed equi-joins — no Python in any hot path.
"""

from __future__ import annotations

import argparse
import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pyspark.sql import functions as F  # noqa: E402

from knowledge_graph_spark.checkpoint import StageRunner  # noqa: E402
from knowledge_graph_spark.functions import pii, textqc  # noqa: E402
from knowledge_graph_spark.io import TableIO  # noqa: E402
from knowledge_graph_spark.operators.corpus import (  # noqa: E402
    dsir_scores,
    familiarity_profile,
    hash_split,
    length_profile,
    mixer_audit,
    stratum_cap,
    unigram_counts,
)
from knowledge_graph_spark.operators.decontam import (  # noqa: E402
    contamination_profile,
    contamination_profile_bloom,
)
from knowledge_graph_spark.operators.sketches import (  # noqa: E402
    cms_estimates,
    hll_distinct,
)
from knowledge_graph_spark.operators.dedup import (  # noqa: E402
    dedup_clusters,
    exact_duplicates,
    minhash_doc_pairs,
    repeated_span_profile,
)
from knowledge_graph_spark.session import get_spark  # noqa: E402


def profile_documents(docs):
    """Per-document QC profile (all native; fused into the scan)."""
    t = F.col("text")
    return docs.select(
        "doc_id",
        textqc.ws_token_count(t).alias("n_tokens"),
        textqc.lang_id(t).alias("lang"),
        textqc.quality_score(t).alias("quality"),
        textqc.dup_line_fraction(t).alias("dup_line_frac"),
        textqc.repeated_token_fraction(t).alias("rep_token_frac"),
        textqc.content_hash(t).alias("content_hash"),
    )


def scrub_documents(docs):
    t = F.col("text")
    return docs.select(
        "doc_id",
        pii.scrub_pii(t).alias("text"),
        (pii.email_count(t) + pii.phone_count(t) + pii.ipv4_count(t)).alias("n_pii"),
    )


def filtered_corpus(
    scrubbed,
    profile,
    resolution,
    min_quality,
    min_tokens,
    max_rep,
    spans=None,
    max_span_micro=1_000_000,
    familiarity=None,
    min_mean_bits_micro=0,
    contamination=None,
):
    """Keep canonical (non-duplicate) documents passing the QC filters;
    emit the redacted text.  All joins are doc_id equi-joins — broadcast
    or bucketed at scale.  Optional signal frames tighten the keep set:
    repeated-span fraction (boilerplate), unigram familiarity floor, and
    benchmark contamination (drop every flagged doc)."""
    keep = (
        profile.filter(
            (F.col("quality") >= min_quality)
            & (F.col("n_tokens") >= min_tokens)
            & (F.col("rep_token_frac") <= max_rep)
        )
        .join(resolution.filter(~F.col("is_duplicate")).select("doc_id"), "doc_id")
        .select("doc_id", "n_tokens", "lang", "quality")
    )
    if spans is not None and max_span_micro < 1_000_000:
        keep = keep.join(
            spans.filter(F.col("rep_micro") <= max_span_micro).select("doc_id"),
            "doc_id",
        )
    if familiarity is not None and min_mean_bits_micro > 0:
        keep = keep.join(
            familiarity.filter(
                F.col("mean_bits_micro") >= min_mean_bits_micro
            ).select("doc_id"),
            "doc_id",
        )
    if contamination is not None:
        keep = keep.join(
            contamination.filter(~F.col("is_contaminated")).select("doc_id"),
            "doc_id",
        )
    return scrubbed.join(keep, "doc_id")


def audit_table(
    profile,
    resolution,
    min_quality,
    min_tokens,
    max_rep,
    spans=None,
    max_span_micro=1_000_000,
    familiarity=None,
    min_mean_bits_micro=0,
    contamination=None,
):
    """Dolma-style drop-provenance twin of ``filtered_corpus``: one row
    per INPUT document with the comma-joined names of the drop rules that
    fired and the resulting keep decision.  The rule predicates are the
    exact negations of the filter's keep conditions, so ``kept`` here
    equals membership in the exported corpus (pre-stratum-cap) — the e2e
    test asserts that identity.  Shipping this table makes every cut
    auditable and lets the mix be re-weighted without re-running the
    taggers."""
    signals = profile.join(
        resolution.select("doc_id", "is_duplicate"), "doc_id"
    )
    rules = [
        ("too_short", F.col("n_tokens") < min_tokens),
        ("low_quality", F.col("quality") < min_quality),
        ("repetitive", F.col("rep_token_frac") > max_rep),
        ("duplicate", F.col("is_duplicate")),
    ]
    if spans is not None and max_span_micro < 1_000_000:
        signals = signals.join(spans.select("doc_id", "rep_micro"), "doc_id")
        rules.append(("boilerplate", F.col("rep_micro") > max_span_micro))
    if familiarity is not None and min_mean_bits_micro > 0:
        signals = signals.join(
            familiarity.select("doc_id", "mean_bits_micro"), "doc_id"
        )
        rules.append(
            ("unfamiliar", F.col("mean_bits_micro") < min_mean_bits_micro)
        )
    if contamination is not None:
        signals = signals.join(
            contamination.select("doc_id", "is_contaminated"), "doc_id"
        )
        rules.append(("contaminated", F.col("is_contaminated")))
    return mixer_audit(signals, rules)


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--input", required=True, help="dir containing documents.parquet")
    p.add_argument("--output", required=True, help="output warehouse dir")
    p.add_argument("--iceberg", default=None, help="Iceberg catalog name (omit for parquet)")
    p.add_argument("--min-quality", type=float, default=0.3)
    p.add_argument("--min-tokens", type=int, default=10)
    p.add_argument("--max-rep-frac", type=float, default=0.95)
    p.add_argument("--minhash-threshold", type=float, default=0.5)
    p.add_argument(
        "--eval-set",
        default=None,
        help="parquet of benchmark items (eval_id, text); enables "
        "decontamination — contaminated docs are dropped from the export",
    )
    p.add_argument("--decontam-ngram", type=int, default=8)
    p.add_argument("--decontam-threshold", type=float, default=0.05)
    p.add_argument(
        "--decontam-bloom",
        action="store_true",
        help="big-evalset regime: broadcast the eval grams' Bloom bitmap "
        "instead of the exact index (same output — no false negatives + "
        "exact verify; use when the eval set exceeds the broadcast budget)",
    )
    p.add_argument(
        "--max-per-stratum",
        type=int,
        default=0,
        help="if > 0, keep at most this many docs per language "
        "(deterministic reservoir cap, applied after filtering)",
    )
    p.add_argument(
        "--max-span-rep-frac",
        type=float,
        default=1.0,
        help="drop docs whose repeated-span fraction exceeds this (1.0 = off)",
    )
    p.add_argument(
        "--min-familiarity-bits",
        type=float,
        default=0.0,
        help="drop docs whose mean unigram familiarity (bits/token) is below this",
    )
    p.add_argument(
        "--dsir-target-mod",
        type=int,
        default=0,
        help="if > 0, add a DSIR importance-score table against the "
        "target slice doc_id %% MOD == 0 (hashed-bigram LLR; the in-domain "
        "seed set in production is a real table — the modulus slice is the "
        "deterministic sandbox stand-in)",
    )
    p.add_argument("--dsir-keep-k", type=int, default=1000)
    p.add_argument(
        "--compact-target-mb",
        type=int,
        default=0,
        help="if > 0, compact the exported corpus to files of ~this size",
    )
    p.add_argument("--val-frac", type=float, default=0.01)
    p.add_argument("--test-frac", type=float, default=0.01)
    p.add_argument("--force", action="store_true")
    p.add_argument("--master", default=None)
    return p.parse_args(argv)


def main(argv=None) -> dict:
    args = parse_args(argv)
    spark = get_spark(app_name="corpus-pipeline", master=args.master)
    io = TableIO(spark, base=args.output, catalog=args.iceberg)
    runner = StageRunner(io)
    if args.force:
        runner.clear()

    docs = spark.read.parquet(os.path.join(args.input, "documents.parquet"))

    profile = runner.run("doc_profile", lambda: profile_documents(docs), inputs=[])
    scrubbed = runner.run("doc_scrubbed", lambda: scrub_documents(docs), inputs=[])
    exact = runner.run("exact_groups", lambda: exact_duplicates(docs), inputs=[])
    pairs = runner.run(
        "neardup_pairs",
        lambda: minhash_doc_pairs(docs, threshold=args.minhash_threshold),
        inputs=[],
    )
    resolution = runner.run(
        "dedup_resolution",
        lambda: dedup_clusters(docs, pairs),
        inputs=["neardup_pairs"],
    )
    spans = runner.run(
        "span_profile", lambda: repeated_span_profile(docs), inputs=[]
    )
    fam = runner.run(
        "familiarity",
        lambda: familiarity_profile(docs, unigram_counts(docs)),
        inputs=[],
    )
    contamination = None
    corpus_inputs = [
        "doc_scrubbed",
        "doc_profile",
        "dedup_resolution",
        "span_profile",
        "familiarity",
    ]
    if args.eval_set:
        evalset = spark.read.parquet(args.eval_set)
        decontam_fn = (
            contamination_profile_bloom if args.decontam_bloom else contamination_profile
        )
        contamination = runner.run(
            "decontam",
            lambda: decontam_fn(
                docs,
                evalset,
                n=args.decontam_ngram,
                threshold=args.decontam_threshold,
            ),
            inputs=[],
        )
        corpus_inputs.append("decontam")
    audit = runner.run(
        "corpus_audit",
        lambda: audit_table(
            profile,
            resolution,
            args.min_quality,
            args.min_tokens,
            args.max_rep_frac,
            spans=spans,
            max_span_micro=int(args.max_span_rep_frac * 1_000_000),
            familiarity=fam,
            min_mean_bits_micro=int(args.min_familiarity_bits * 1_000_000),
            contamination=contamination,
        ),
        inputs=corpus_inputs,
    )
    if args.dsir_target_mod > 0:
        runner.run(
            "dsir_scores",
            lambda: dsir_scores(
                docs,
                target=(F.col("doc_id") % args.dsir_target_mod == 0),
                keep_k=args.dsir_keep_k,
            ),
            inputs=[],
        )
    corpus = runner.run(
        "corpus_filtered",
        lambda: filtered_corpus(
            scrubbed,
            profile,
            resolution,
            args.min_quality,
            args.min_tokens,
            args.max_rep_frac,
            spans=spans,
            max_span_micro=int(args.max_span_rep_frac * 1_000_000),
            familiarity=fam,
            min_mean_bits_micro=int(args.min_familiarity_bits * 1_000_000),
            contamination=contamination,
        ),
        inputs=corpus_inputs,
    )

    if args.max_per_stratum > 0:
        corpus = runner.run(
            "corpus_capped",
            lambda: stratum_cap(
                corpus, strata_col="lang", id_col="doc_id", k=args.max_per_stratum
            ).drop("pri", "rk"),
            inputs=["corpus_filtered"],
        )
        split_input = "corpus_capped"
    else:
        split_input = "corpus_filtered"

    # training-set finishing: growth-stable split assignment + per-language
    # length order statistics over the kept corpus (batch-size planning)
    split = runner.run(
        "corpus_split",
        lambda: hash_split(
            corpus, val_frac=args.val_frac, test_frac=args.test_frac
        ).select("doc_id", "split", "key_micro"),
        inputs=[split_input],
    )
    stats = runner.run(
        "length_stats",
        lambda: length_profile(corpus, strata_col="lang"),
        inputs=[split_input],
    )
    # corpus accounting sketches over the KEPT text: distinct-token HLL
    # (one row) + Count-Min per-token estimates — both mergeable across
    # shards, so incremental corpus builds can fold these instead of
    # re-scanning (operators/sketches.py)
    token_sketch = runner.run(
        "token_sketch",
        lambda: hll_distinct(unigram_counts(corpus).select("token")),
        inputs=[split_input],
    )
    runner.run(
        "token_cms",
        lambda: cms_estimates(unigram_counts(corpus)),
        inputs=[split_input],
    )

    summary = {
        "computed": runner.computed,
        "skipped": runner.skipped,
        "rows": {
            "documents": docs.count(),
            "exact_groups": exact.count(),
            "neardup_pairs": pairs.count(),
            "kept": corpus.count(),
            "audit_kept": audit.filter(F.col("kept")).count(),
            "split": {
                r["split"]: r["n"]
                for r in split.groupBy("split")
                .agg(F.count("*").alias("n"))
                .collect()
            },
            "length_stats": stats.count(),
            "distinct_tokens_est": token_sketch.collect()[0]["estimate"],
        },
    }
    if contamination is not None:
        summary["rows"]["contaminated"] = contamination.filter(
            F.col("is_contaminated")
        ).count()
    if args.compact_target_mb > 0 and "corpus_filtered" in runner.computed:
        summary["compaction"] = io.compact(
            "corpus_filtered", target_file_bytes=args.compact_target_mb << 20
        )
    print(summary)
    return summary


if __name__ == "__main__":
    main()
