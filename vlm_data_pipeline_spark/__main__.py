"""CLI entry points — the engine's analogue of the reference's driver
scripts (process_all.py / generate_qa.py / create_labeled_dataset.py):

    python -m vlm_data_pipeline_spark qa      --frames DIR --out DIR
    python -m vlm_data_pipeline_spark enrich  --frames DIR --out DIR
    python -m vlm_data_pipeline_spark clean   --docs PATH --out DIR
    python -m vlm_data_pipeline_spark mix     --docs PATH --weights k=v,.. --budget N
    python -m vlm_data_pipeline_spark summary --frames DIR
    python -m vlm_data_pipeline_spark eval    --detections P --groundtruth P
    python -m vlm_data_pipeline_spark select  --docs P --target P --n N --out DIR
    python -m vlm_data_pipeline_spark dedup-spans --docs P --unit token|sentence --out DIR
    python -m vlm_data_pipeline_spark retrieve --docs P --terms a,b,c [--out DIR]

``clean``/``mix`` read parquet, JSONL(.gz), or ORC corpora (--format).

``--frames`` reads a parquet directory holding the canonical FRAME
schema (any ingest adapter's output); ``--docs`` a documents table
(doc_id, text, ...). Cluster deployments pass the same flags to
spark-submit — the SparkSession factory only chooses local[] when no
master is configured upstream.
"""

from __future__ import annotations

import argparse
import sys


def _spark(cpus: int | None):
    from .session import get_spark

    return get_spark("vlm-pipeline-cli", cpus=cpus)


def _read_docs(spark, path: str, fmt: str):
    """Documents table in the format LLM corpora actually ship in.
    jsonl covers .jsonl/.json.gz trees (Spark decompresses gzip text
    sources transparently); orc/parquet are the columnar lake formats."""
    if fmt == "jsonl":
        return spark.read.json(path)
    if fmt == "orc":
        return spark.read.orc(path)
    if fmt == "parquet":
        return spark.read.parquet(path)
    raise SystemExit(f"unsupported --format {fmt!r}")


def cmd_qa(args: argparse.Namespace) -> int:
    from .qa import generate_all, qa_summary, write_qa_outputs

    spark = _spark(args.cpus)
    frames = spark.read.parquet(args.frames)
    all_qa = generate_all(frames, tasks=args.tasks)
    write_qa_outputs(all_qa, args.out)
    qa_summary(all_qa).show(20, truncate=False)
    return 0


def cmd_enrich(args: argparse.Namespace) -> int:
    from .enrich import apply_codebook, build_codebook, label_histogram, write_codebook

    spark = _spark(args.cpus)
    frames = spark.read.parquet(args.frames)
    codebook = build_codebook(frames)
    labeled = apply_codebook(frames, codebook, labeled_only=not args.keep_unlabeled)
    labeled.write.mode("overwrite").parquet(f"{args.out}/labeled")
    write_codebook(codebook, f"{args.out}/codebook")
    label_histogram(codebook).show(50, truncate=False)
    return 0


def cmd_clean(args: argparse.Namespace) -> int:
    from pyspark.sql import functions as F

    from .operators import curation, dedup

    spark = _spark(args.cpus)
    docs = _read_docs(spark, args.docs, args.format)
    q = curation.quality_filter(docs)
    pairs = dedup.minhash_lsh_pairs(q, threshold=args.jaccard)
    kept = dedup.dedup_keep_filter(q, dedup.neardup_components(pairs))
    if args.benchmark:
        bench = spark.read.parquet(args.benchmark)
        flagged = dedup.decontaminate(kept, bench, n=args.ngram).select("doc_id")
        # contamination-hit-sized, corpus-proportional worst case: AQE
        # broadcasts when small rather than forcing it
        kept = kept.join(flagged, "doc_id", "left_anti")
    if args.scrub_pii:
        kept = kept.withColumn("text", curation.scrub_pii(F.col("text")))
    kept.write.mode("overwrite").parquet(f"{args.out}/clean")
    n_in, n_out = docs.count(), spark.read.parquet(f"{args.out}/clean").count()
    print(f"kept {n_out}/{n_in} documents")
    return 0


def cmd_mix(args: argparse.Namespace) -> int:
    """Data-mixing stage: plan per-stratum token budgets from domain
    weights, then materialize the replicate/sample mix deterministically."""
    from .operators.curation import apply_mixing_plan, mixing_plan

    weights = {}
    for kv in args.weights.split(","):
        k, _, v = kv.partition("=")
        weights[k.strip()] = float(v)
    spark = _spark(args.cpus)
    docs = _read_docs(spark, args.docs, args.format)
    plan = mixing_plan(docs, args.strata, weights, args.budget)
    plan.show(100, truncate=False)
    if args.out:
        plan.coalesce(1).write.mode("overwrite").json(f"{args.out}/plan")
        mixed = apply_mixing_plan(docs, plan, args.strata, seed=args.seed)
        mixed.write.mode("overwrite").parquet(f"{args.out}/mixed")
        print(f"mixed rows: {spark.read.parquet(f'{args.out}/mixed').count()}")
    return 0


def cmd_eval(args: argparse.Namespace) -> int:
    """Detection-quality metrics — the analogue of the reference's
    vendored Objectron eval CLI (objectron/dataset/eval.py): per-category
    AP via greedy matching at an IoU threshold, plus optional
    accuracy-under-threshold over an error column."""
    from .functions.evaluation import accuracy_under_threshold, detection_ap

    spark = _spark(args.cpus)
    dets = spark.read.parquet(args.detections)
    gts = spark.read.parquet(args.groundtruth)
    # fail fast on a typo'd column BEFORE the expensive AP job runs
    if args.error_col and args.error_col not in dets.columns:
        raise SystemExit(
            f"--error-col {args.error_col!r} not in detections columns "
            f"{dets.columns}"
        )
    ap = detection_ap(
        dets, gts, iou_thresh=args.iou, mode=args.mode, matcher=args.matcher
    )
    ap.show(100, truncate=False)
    if args.out:
        ap.coalesce(1).write.mode("overwrite").json(f"{args.out}/ap")
    if args.error_col:
        acc = accuracy_under_threshold(
            dets, ["category"], error_col=args.error_col, thresh=args.error_thresh
        )
        acc.show(100, truncate=False)
        if args.out:
            acc.coalesce(1).write.mode("overwrite").json(f"{args.out}/accuracy")
    return 0


def cmd_select(args: argparse.Namespace) -> int:
    """DSIR data selection: fit hashed-bigram importance ratios of a
    TARGET corpus against the raw docs, score every raw doc, and
    Gumbel-top-k sample ``--n`` docs proportionally to exp(score)."""
    from pyspark.sql import functions as F

    from .operators.curation import dsir_log_ratios, dsir_sample, dsir_scores

    spark = _spark(args.cpus)
    docs = _read_docs(spark, args.docs, args.format)
    target = _read_docs(spark, args.target, args.format)
    ratios = dsir_log_ratios(target, docs, n_buckets=args.buckets)
    scored = dsir_scores(docs, ratios, n_buckets=args.buckets)
    # picked is n-row-sized but derives from a full corpus scoring pass;
    # it feeds both the join+write and the stats — persist so the second
    # consumer doesn't re-run the scoring
    picked = dsir_sample(scored, n=args.n, seed=args.seed).persist()
    out = picked.join(docs, "doc_id")
    out.write.mode("overwrite").parquet(f"{args.out}/selected")
    stats = picked.agg(
        F.count("*").alias("n"), F.min("score"), F.avg("score"), F.max("score")
    )
    stats.show(truncate=False)
    return 0


def cmd_dedup_spans(args: argparse.Namespace) -> int:
    """Span-level exact dedup: ExactSubstr duplicated k-token windows
    (--unit token) or C4's three-sentence rule (--unit sentence)."""
    from pyspark.sql import functions as F

    from .operators.dedup import dedup_sentence_spans, remove_duplicate_spans

    spark = _spark(args.cpus)
    docs = _read_docs(spark, args.docs, args.format)
    # paper defaults: ExactSubstr uses 50-token windows, C4 three sentences
    k = args.k if args.k is not None else (3 if args.unit == "sentence" else 50)
    if args.unit == "sentence":
        out = dedup_sentence_spans(docs, n_sent=k, min_count=args.min_count)
    else:
        out = remove_duplicate_spans(docs, k=k, min_count=args.min_count)
    out.write.mode("overwrite").parquet(f"{args.out}/deduped")
    written = spark.read.parquet(f"{args.out}/deduped")
    written.agg(
        F.count("*").alias("n_docs"),
        F.sum("n_removed").alias("units_removed"),
        F.sum((F.col("n_removed") > 0).cast("long")).alias("docs_touched"),
    ).show(truncate=False)
    return 0


def cmd_retrieve(args: argparse.Namespace) -> int:
    """Inverted-index BM25 retrieval: one literal query (--terms) or a
    batch query table (--queries, columns query_id + terms); optional
    DPR-style hard negatives against a positives table."""
    from .operators.retrieval import (
        build_inverted_index,
        index_bm25_batch,
        index_bm25_topk,
        mine_hard_negatives,
    )

    if args.terms and args.queries:
        raise SystemExit("--terms and --queries are mutually exclusive")
    if args.positives and not args.queries:
        raise SystemExit("--positives requires --queries (batch mode)")
    spark = _spark(args.cpus)
    docs = _read_docs(spark, args.docs, args.format)
    postings, stats = build_inverted_index(docs)
    if args.queries:
        q = spark.read.parquet(args.queries)
        ret = index_bm25_batch(postings, stats, q, k=args.k).persist()
        result = ret
        if args.positives:
            pos = spark.read.parquet(args.positives)
            result = mine_hard_negatives(ret, pos, n_neg=args.negatives)
    elif args.terms:
        # dict.fromkeys: dedupe while keeping order — a repeated term on
        # the command line is user convenience, not a double-count request
        terms = list(
            dict.fromkeys(t.strip() for t in args.terms.split(",") if t.strip())
        )
        if not terms:
            raise SystemExit("--terms parsed to an empty list")
        result = index_bm25_topk(postings, stats, terms, k=args.k)
    else:
        raise SystemExit("one of --terms or --queries is required")
    result.show(args.k * 3, truncate=False)
    if args.out:
        result.write.mode("overwrite").parquet(f"{args.out}/retrieved")
    return 0


def cmd_summary(args: argparse.Namespace) -> int:
    from .sources.json_frames import dataset_summary, parameter_audit

    spark = _spark(args.cpus)
    frames = spark.read.parquet(args.frames)
    dataset_summary(frames).show(50, truncate=False)
    parameter_audit(frames).show(50, truncate=False)
    return 0


def cmd_tokenize(args: argparse.Namespace) -> int:
    """Train-or-load a subword model and encode a docs parquet: one
    narrow per-row transform (the model broadcasts; nothing shuffles),
    written back as parquet with the token array appended."""
    from .operators import lm

    spark = _spark(args.cpus)
    docs = spark.read.parquet(args.docs)
    if args.algo == "bpe":
        if args.model:
            merges = lm.load_bpe_merges(spark, args.model)
        else:
            merges = lm.train_bpe(docs, num_merges=args.vocab_size)
            if args.save_model:
                lm.save_bpe_merges(spark, merges, args.save_model)
        out = lm.apply_bpe(docs, merges, out_col="tokens")
    elif args.algo == "unigram":
        if args.model:
            model = lm.load_unigram_model(spark, args.model)
        else:
            model = lm.train_unigram_lm(docs, vocab_size=args.vocab_size)
            if args.save_model:
                lm.save_unigram_model(spark, model, args.save_model)
        out = lm.unigram_encode(docs, model).withColumnRenamed(
            "pieces", "tokens"
        )
    else:  # wordpiece
        if args.model:
            vocab = lm.load_wordpiece_vocab(spark, args.model)
        else:
            vocab = lm.train_wordpiece(docs, num_merges=args.vocab_size)
            if args.save_model:
                lm.save_wordpiece_vocab(spark, vocab, args.save_model)
        out = lm.apply_wordpiece(docs, vocab, out_col="tokens")
    out.write.mode("overwrite").parquet(args.out)
    print(f"tokenized -> {args.out} ({args.algo})")
    return 0


def cmd_render(args: argparse.Namespace) -> int:
    """Annotation-rendering debug sink (the visualize_enhanced_results.py
    analogue): project + rasterize up to --max-frames frames' boxes and
    write one PNG per frame into --out. The collect is bounded by
    --max-frames by construction (limit runs before any pixel work)."""
    import os

    from .functions.graphics import render_annotations

    spark = _spark(args.cpus)
    frames = spark.read.parquet(args.frames)
    if args.sort:
        frames = frames.orderBy("image_id")
    rows = render_annotations(
        frames, max_frames=args.max_frames, thickness=args.thickness
    ).collect()
    os.makedirs(args.out, exist_ok=True)
    for r in rows:
        with open(os.path.join(args.out, f"{r.image_id}.png"), "wb") as fh:
            fh.write(bytes(r.png))
    print(f"wrote {len(rows)} PNGs to {args.out}")
    return 0


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="vlm_data_pipeline_spark")
    common = argparse.ArgumentParser(add_help=False)
    common.add_argument("--cpus", type=int, default=None)
    sub = p.add_subparsers(dest="cmd", required=True)

    qa = sub.add_parser("qa", help="run the QA task generators", parents=[common])
    qa.add_argument("--frames", required=True)
    qa.add_argument("--out", required=True)
    qa.add_argument("--tasks", nargs="*", default=None)
    qa.set_defaults(fn=cmd_qa)

    en = sub.add_parser(
        "enrich", help="build + apply the label codebook", parents=[common]
    )
    en.add_argument("--frames", required=True)
    en.add_argument("--out", required=True)
    en.add_argument("--keep-unlabeled", action="store_true")
    en.set_defaults(fn=cmd_enrich)

    cl = sub.add_parser(
        "clean", help="quality + dedup + decontamination", parents=[common]
    )
    cl.add_argument("--docs", required=True)
    cl.add_argument("--format", choices=["parquet", "jsonl", "orc"],
                    default="parquet")
    cl.add_argument("--out", required=True)
    cl.add_argument("--benchmark", default=None)
    cl.add_argument("--jaccard", type=float, default=0.8)
    cl.add_argument("--ngram", type=int, default=13)
    cl.add_argument("--scrub-pii", action="store_true")
    cl.set_defaults(fn=cmd_clean)

    sm = sub.add_parser(
        "summary", help="dataset summary + parameter audit", parents=[common]
    )
    sm.add_argument("--frames", required=True)
    sm.set_defaults(fn=cmd_summary)

    mx = sub.add_parser(
        "mix", help="token-budget mixing plan + deterministic mix", parents=[common]
    )
    mx.add_argument("--docs", required=True)
    mx.add_argument("--format", choices=["parquet", "jsonl", "orc"],
                    default="parquet")
    mx.add_argument("--strata", default="lang")
    mx.add_argument("--weights", required=True,
                    help="comma list, e.g. en=0.5,fr=0.25,zh=0.25")
    mx.add_argument("--budget", type=int, required=True)
    mx.add_argument("--seed", default="mix")
    mx.add_argument("--out", default=None)
    mx.set_defaults(fn=cmd_mix)

    se = sub.add_parser(
        "select", help="DSIR importance selection against a target corpus",
        parents=[common],
    )
    se.add_argument("--docs", required=True)
    se.add_argument("--target", required=True)
    se.add_argument("--format", choices=["parquet", "jsonl", "orc"],
                    default="parquet")
    se.add_argument("--n", type=int, required=True)
    se.add_argument("--buckets", type=int, default=1024)
    se.add_argument("--seed", default="dsir")
    se.add_argument("--out", required=True)
    se.set_defaults(fn=cmd_select)

    ds = sub.add_parser(
        "dedup-spans",
        help="ExactSubstr token-window / C4 sentence-span dedup",
        parents=[common],
    )
    ds.add_argument("--docs", required=True)
    ds.add_argument("--format", choices=["parquet", "jsonl", "orc"],
                    default="parquet")
    ds.add_argument("--unit", choices=["token", "sentence"], default="token")
    ds.add_argument("--k", type=int, default=None,
                    help="window length (default: 50 tokens / 3 sentences)")
    ds.add_argument("--min-count", type=int, default=2)
    ds.add_argument("--out", required=True)
    ds.set_defaults(fn=cmd_dedup_spans)

    rt = sub.add_parser(
        "retrieve", help="inverted-index BM25 (+ hard negatives)",
        parents=[common],
    )
    rt.add_argument("--docs", required=True)
    rt.add_argument("--format", choices=["parquet", "jsonl", "orc"],
                    default="parquet")
    rt.add_argument("--terms", default=None, help="comma list for one query")
    rt.add_argument("--queries", default=None,
                    help="parquet with (query_id, terms) for a batch")
    rt.add_argument("--positives", default=None,
                    help="parquet with (query_id, doc_id) known positives")
    rt.add_argument("--negatives", type=int, default=5)
    rt.add_argument("--k", type=int, default=10)
    rt.add_argument("--out", default=None)
    rt.set_defaults(fn=cmd_retrieve)

    ev = sub.add_parser(
        "eval", help="detection AP + accuracy metrics", parents=[common]
    )
    ev.add_argument("--detections", required=True)
    ev.add_argument("--groundtruth", required=True)
    ev.add_argument("--out", default=None)
    ev.add_argument("--iou", type=float, default=0.5)
    ev.add_argument("--mode", choices=["2d", "3d"], default="2d")
    ev.add_argument(
        "--matcher",
        choices=["closed", "exact"],
        default="closed",
        help="3d only: 'exact' = rotation-exact Sutherland-Hodgman IoU",
    )
    ev.add_argument("--error-col", default=None)
    ev.add_argument("--error-thresh", type=float, default=0.1)
    ev.set_defaults(fn=cmd_eval)

    rd = sub.add_parser(
        "render",
        help="render annotated frames to PNGs (debug sink)",
        parents=[common],
    )
    rd.add_argument("--frames", required=True)
    rd.add_argument("--out", required=True)
    rd.add_argument("--max-frames", type=int, default=16)
    rd.add_argument("--thickness", type=int, default=2)
    rd.add_argument(
        "--sort",
        action="store_true",
        help="deterministic sample: order by image_id before the limit",
    )
    rd.set_defaults(fn=cmd_render)

    tk = sub.add_parser(
        "tokenize",
        help="train/load a subword model and encode a docs parquet",
        parents=[common],
    )
    tk.add_argument("--docs", required=True)
    tk.add_argument("--out", required=True)
    tk.add_argument(
        "--algo", choices=["bpe", "unigram", "wordpiece"], default="bpe"
    )
    tk.add_argument("--model", default=None, help="load a saved artifact")
    tk.add_argument(
        "--save-model", default=None, help="persist the trained artifact"
    )
    tk.add_argument(
        "--vocab-size", type=int, default=512,
        help="merges (bpe/wordpiece) or pieces (unigram) when training",
    )
    tk.set_defaults(fn=cmd_tokenize)
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
