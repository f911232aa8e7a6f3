"""spark-submit entrypoint mirroring the reference's detect_off_topic CLI
(bin/detect_off_topic:13-134) plus the curation/dedup subcommands.

    spark-submit --py-files otmt_spark.zip -m off_topic_memento_toolkit_spark.cli \
        detect -i pages:/path/to/pages.parquet -o out.json -ot json \
        -tm cosine=0.12,wordcount

Threshold syntax ``-tm jaccard=0.80,cosine`` matches
otmt/argument_processing.py:34-66 (missing value → registry default).
"""

import argparse
import sys

from pyspark.sql import SparkSession

from .operators.measures import MEASURE_REGISTRY
from .plans.checkpoints import CheckpointStore
from .plans.pipeline import dedup_pipeline, detect_off_topic, story_pipeline
from .plans.promote import SIG_PARAMS, check_params, write_params
from .session import get_spark, pin_for_session, session_pins_scope
from .sources.sinks import (
    REPORT_WRITERS,
    detect_report,
    report_overall,
    save_uri_list,
)


def parse_measures(spec: str):
    """'jaccard=0.80,cosine' → {'jaccard': 0.80, 'cosine': <default>}."""
    measures, thresholds = [], {}
    for part in spec.split(","):
        part = part.strip()
        if not part:
            continue
        if "=" in part:
            name, value = part.split("=", 1)
            thresholds[name] = float(value)
        else:
            name = part
        if name not in MEASURE_REGISTRY:
            raise SystemExit(f"unknown measure {name!r}; "
                             f"supported: {sorted(MEASURE_REGISTRY)}")
        measures.append(name)
    return measures, thresholds


def _read_pages(spark: SparkSession, spec: str):
    """pages:<parquet>, warc:<glob of .warc/.warc.gz>, or
    collection:<reference working dir>; returns
    (pages, memento_access_errors_or_None)."""
    kind, _, path = spec.partition(":")
    if kind == "pages":
        return spark.read.parquet(path), None
    if kind == "warc":
        # the reference's flagship input (bin/detect_off_topic -i warc=...,
        # otmt/input_types.py:655-678); text is derived from html downstream
        # by the enrichment's text extraction, exactly the reference's lazy
        # justext derive (otmt/collectionmodel.py:440-469)
        from pyspark.sql import functions as F

        from .sources.warc import read_warc_pages

        # lang is an input column per input_hint (SURVEY M3: langdetect is
        # seeded-random, parity not required) — null when ingesting raw WARC
        return read_warc_pages(spark, path).select(
            "url", "warc_ts", "html",
            F.lit(None).cast("string").alias("lang")), None
    if kind == "collection":
        from .sources.collection_dir import read_reference_collection

        store = read_reference_collection(spark, path)
        return store["pages"], store["errors"]
    raise SystemExit("input spec must be pages:<parquet path>, "
                     "warc:<warc glob>, or "
                     "collection:<reference working directory> "
                     "(network acquisition is out of scope per SURVEY S4-S6)")


def _read_consider(spark: SparkSession, consider_path):
    from pyspark.sql import functions as F

    # strip CR (CRLF files) and surrounding whitespace, drop blank lines:
    # a trailing \r would silently hash-mismatch every URI-M in the list
    return (
        spark.read.text(consider_path)
        .select(F.trim(F.regexp_replace("value", "\r", "")).alias("urim"))
        .filter(F.col("urim") != "")
    )


def _apply_consider(spark: SparkSession, pages, consider_path):
    """F4 consideration semi-filter at the pages level: derive urim from
    (url, warc_ts) and keep only listed mementos (bin/*:46-79; delegates to
    operators.curation.consider_only)."""
    if not consider_path:
        return pages
    from .operators.curation import consider_only
    from .operators.timeline import with_memento_identity

    return consider_only(
        with_memento_identity(pages), _read_consider(spark, consider_path)
    ).drop("urim", "urit")


def _make_store(spark, checkpoint_dir, catalog, run_id, required_by=None):
    """Checkpoint backend selection: ``--catalog cat[.namespace]`` → the
    Iceberg store (same snapshot contract; requires the runtime jar on the
    classpath), ``--checkpoint-dir`` → the parquet store, neither → None
    (or an error when the subcommand needs a store)."""
    if catalog and checkpoint_dir:
        raise SystemExit("pass either --checkpoint-dir or --catalog, "
                         "not both (and their --base-* twins likewise)")
    if catalog:
        from .plans.checkpoints import (
            IcebergCheckpointStore,
            iceberg_runtime_available,
        )

        if not iceberg_runtime_available(spark):
            raise SystemExit(
                "--catalog needs the Iceberg Spark runtime jar on the "
                "classpath (spark-submit --packages "
                "org.apache.iceberg:iceberg-spark-runtime-...)")
        cat, _, namespace = catalog.partition(".")
        return IcebergCheckpointStore(spark, cat, namespace or "otmt",
                                      run_id)
    if checkpoint_dir:
        return CheckpointStore(spark, checkpoint_dir, run_id)
    if required_by:
        raise SystemExit(
            f"{required_by} needs a checkpoint backend: pass "
            f"--base-checkpoint-dir (parquet) or --base-catalog (Iceberg)")
    return None


def _consider_argument(parser):
    parser.add_argument("-c", "--consider",
                        help="consideration list (text of URI-Ms, e.g. from "
                             "the filter subcommand); restricts processing "
                             "to the listed mementos (F4 broadcast "
                             "semi-join)")


def _signature_arguments(parser):
    """The MinHash signature and verify settings a dedup base and every
    ingest into it share."""
    parser.add_argument("--num-perm", type=int, default=128)
    parser.add_argument("--bands", type=int, default=32)
    parser.add_argument("--shingle-words", type=int, default=5)
    parser.add_argument("--min-jaccard", type=float, default=0.8)


def main(argv=None, spark=None):
    """``spark=None`` creates (and stops) its own session — the spark-submit
    path; tests pass their shared session, which is left running."""
    parser = argparse.ArgumentParser(prog="otmt-spark")
    sub = parser.add_subparsers(dest="command", required=True)

    detect = sub.add_parser("detect", help="off-topic detection")
    detect.add_argument("-i", "--input", required=True)
    _consider_argument(detect)
    detect.add_argument("-o", "--output", required=True)
    detect.add_argument("-ot", "--output-type", default="json",
                        choices=list(REPORT_WRITERS))
    detect.add_argument("-tm", "--timemap-measures", default="cosine")
    detect.add_argument("--offtopic-list")
    detect.add_argument("--ontopic-list")

    dedup = sub.add_parser("dedup", help="near-duplicate clustering at scale")
    dedup.add_argument("-i", "--input", required=True)
    _consider_argument(dedup)
    dedup.add_argument("-o", "--output", required=True)
    dedup.add_argument("--checkpoint-dir")
    dedup.add_argument("--catalog",
                       help="Iceberg catalog[.namespace] checkpoint backend "
                            "(needs the runtime jar; same snapshot "
                            "contract as --checkpoint-dir)")
    dedup.add_argument("--run-id", default="run-0")
    _signature_arguments(dedup)
    dedup.add_argument("--verify-method", default="jaccard",
                       choices=["jaccard", "lcs"])
    dedup.add_argument("--state-buckets", type=int, default=32,
                       help="hash buckets for the mutable corpus-state "
                            "stages (docs/bands/verified_edges/clusters); "
                            "ingest/takedown --promote then merge row-level"
                            ", rewriting only touched buckets — size so a "
                            "bucket is a few GB at your corpus scale")

    story = sub.add_parser("story", help="curation chain (dedup/slice/cluster/pick)")
    story.add_argument("-i", "--input", required=True)
    _consider_argument(story)
    story.add_argument("-o", "--output", required=True)

    stats = sub.add_parser(
        "stats", help="training-data text screens: language-ID, quality "
                      "features, token counts, fingerprints")
    stats.add_argument("-i", "--input", required=True)
    _consider_argument(stats)
    stats.add_argument("-o", "--output", required=True)
    stats.add_argument("--quality-only", action="store_true",
                       help="emit only rows passing the quality screens")

    filt = sub.add_parser(
        "filter", help="consideration-list builders: language select "
                       "(bin/select_by_language) and sequential near-dup "
                       "exclusion (bin/exclude_duplicates)")
    filt.add_argument("-i", "--input", required=True)
    filt.add_argument("-o", "--output", required=True,
                      help="directory of one-URI-M-per-line text parts "
                           "(feed back via a consideration join)")
    filt.add_argument("-l", "--language",
                      help="keep only mementos with this language")
    filt.add_argument("-c", "--consider",
                      help="consideration list (one URI-M per line): "
                           "restrict processing to the listed mementos; "
                           "with --exclude-duplicates this also switches "
                           "D1 to the reference's consideration branch "
                           "(first-seen simhash skip, "
                           "bin/exclude_duplicates:78-93)")
    filt.add_argument("--exclude-duplicates", action="store_true",
                      help="apply the D1 sequential simhash rule (without "
                           "-c: the plain lag compare, "
                           "bin/exclude_duplicates:95-106)")
    filt.add_argument("--threshold", type=float, default=0.2,
                      help="D1 hamming/64 threshold (default 0.2)")

    ingest = sub.add_parser(
        "ingest", help="incremental dedup: fold a NEW batch of pages into "
                       "an existing dedup checkpoint without reprocessing "
                       "history (delta-pruned candidates + contraction CC)")
    ingest.add_argument("-i", "--input", required=True,
                        help="the new batch (pages:/warc: input)")
    ingest.add_argument("--base-checkpoint-dir",
                        help="checkpoint dir of a prior `dedup "
                             "--checkpoint-dir` run (needs docs, bands, "
                             "clusters stages)")
    ingest.add_argument("--base-catalog",
                        help="Iceberg catalog[.namespace] holding the base "
                             "state instead of --base-checkpoint-dir")
    ingest.add_argument("--base-run-id", default="run-0")
    ingest.add_argument("-o", "--output", required=True,
                        help="merged (urim, component) parquet")
    ingest.add_argument("--checkpoint-dir",
                        help="the increment's own resumable stage dir")
    ingest.add_argument("--catalog",
                        help="Iceberg catalog[.namespace] for the "
                             "increment's own stages")
    ingest.add_argument("--run-id", default="inc-0")
    _signature_arguments(ingest)
    ingest.add_argument("--repair", action="store_true",
                        help="bypass the mid-promote-inconsistency guard "
                             "when RE-RUNNING the interrupted batch (the "
                             "re-ingest guards make the retry converge)")
    ingest.add_argument("--promote", action="store_true",
                        help="commit merged docs/bands/clusters back to the "
                             "base checkpoint as new snapshot versions (the "
                             "next increment then runs against the updated "
                             "corpus; old versions stay time-travelable)")

    takedown = sub.add_parser(
        "takedown", help="delete documents from a deduped corpus and repair "
                         "only the affected clusters (bridge removals split; "
                         "labels re-derive from survivors)")
    takedown.add_argument("--base-checkpoint-dir",
                          help="checkpoint dir of a prior `dedup "
                               "--checkpoint-dir` run")
    takedown.add_argument("--base-catalog",
                          help="Iceberg catalog[.namespace] holding the "
                               "base state")
    takedown.add_argument("--base-run-id", default="run-0")
    takedown.add_argument("--remove", required=True,
                          help="text file/dir of URI-Ms to delete (one per "
                               "line — the filter subcommand's output "
                               "format)")
    takedown.add_argument("-o", "--output", required=True,
                          help="updated (urim, component) parquet")
    takedown.add_argument("--repair", action="store_true",
                          help="bypass the mid-promote-inconsistency guard "
                               "when re-running an interrupted promote")
    takedown.add_argument("--promote", action="store_true",
                          help="commit purged docs/bands and repaired "
                               "clusters back to the base checkpoint as new "
                               "snapshot versions (the actual data "
                               "deletion; old versions remain until "
                               "expire_snapshots)")

    metrics = sub.add_parser(
        "metrics", help="per-stage lineage/metrics from a checkpoint dir")
    metrics.add_argument("--checkpoint-dir", required=True)

    stream = sub.add_parser(
        "stream", help="structured-streaming ingest over a pages directory")
    stream.add_argument("-i", "--input", required=True,
                        help="pages parquet directory (file stream source)")
    stream.add_argument("-o", "--output", required=True)
    stream.add_argument("--checkpoint", required=True)
    stream.add_argument("--mode", default="dedup",
                        choices=["dedup", "rates", "signatures",
                                 "candidates"])
    stream.add_argument("--base-checkpoint-dir",
                        help="candidates mode: dedup checkpoint whose "
                             "`bands` stage is the static join side")
    stream.add_argument("--base-catalog",
                        help="candidates mode: Iceberg catalog holding the "
                             "base state")
    stream.add_argument("--base-run-id", default="run-0")
    stream.add_argument("--watermark", default="1 hour")
    stream.add_argument("--window", default="1 hour")
    stream.add_argument("--once", action="store_true",
                        help="availableNow trigger (drain and stop)")

    args = parser.parse_args(argv)

    if args.command == "metrics":
        # pure-filesystem command: no SparkSession needed
        import json as _json
        import os as _os

        from .plans.pipeline import pipeline_metrics

        if not _os.path.isdir(args.checkpoint_dir):
            raise SystemExit(
                f"no such checkpoint dir: {args.checkpoint_dir}")
        print(_json.dumps(pipeline_metrics(args.checkpoint_dir), indent=2))
        return

    owns_session = spark is None
    if owns_session:
        spark = get_spark(f"otmt-spark-{args.command}")
    # one owner scope per command: every frame the command pins (measure
    # and report pins, storeless dedup/ingest stages, ranking layouts) is
    # consumed inside it and released when it returns, so a long-lived
    # caller's session keeps only its own pins
    with session_pins_scope():
        _run(args, spark)

    if owns_session:
        spark.stop()


def _run(args, spark):
    """Run one Spark-using command; :func:`main` owns the session and the
    pin scope."""
    if args.command == "detect":
        measures, thresholds = parse_measures(args.timemap_measures)
        pages, access_errors = _read_pages(spark, args.input)
        pages = _apply_consider(spark, pages, args.consider)
        if access_errors is not None and args.consider:
            # the consideration contract covers error rows too
            from .operators.curation import consider_only

            access_errors = consider_only(
                access_errors, _read_consider(spark, args.consider))
        # score once, write many: every output reads one pinned report
        # (the measure suite's own pin feeds it)
        result = detect_off_topic(pages, measures=measures,
                                  thresholds=thresholds)
        report = pin_for_session(detect_report(
            result["scores"], result["meta"], memento_access=access_errors))
        REPORT_WRITERS[args.output_type](report, args.output)
        for status, path in (("off-topic", args.offtopic_list),
                             ("on-topic", args.ontopic_list)):
            if path:
                save_uri_list(report_overall(report), status, path)

    elif args.command == "dedup":
        pages, _ = _read_pages(spark, args.input)
        pages = _apply_consider(spark, pages, args.consider)
        store = _make_store(spark, args.checkpoint_dir, args.catalog,
                            args.run_id)
        sig = {p: getattr(args, p) for p in SIG_PARAMS}
        if store is not None and store.is_committed("params"):
            # a resumed run REUSES committed stages, so its effective
            # signature space is the first run's — flags that disagree
            # with the pinned params would silently mix band spaces
            check_params(store, sig, "dedup (resume)")
        write_params(store, sig)
        clusters = dedup_pipeline(
            pages, store=store, **sig, min_jaccard=args.min_jaccard,
            verify_method=args.verify_method,
            input_scan_expensive=args.input.startswith("warc:"),
            state_buckets=args.state_buckets,
        )
        clusters.write.mode("overwrite").parquet(args.output)

    elif args.command == "ingest":
        from .plans.promote import ingest

        new_pages, _ = _read_pages(spark, args.input)
        base = _make_store(spark, args.base_checkpoint_dir,
                           args.base_catalog, args.base_run_id,
                           required_by="ingest")
        ingest(base, new_pages, args.output,
               inc_store=_make_store(spark, args.checkpoint_dir,
                                     args.catalog, args.run_id),
               num_perm=args.num_perm, bands=args.bands,
               shingle_words=args.shingle_words, min_jaccard=args.min_jaccard,
               input_scan_expensive=args.input.startswith("warc:"),
               promote=args.promote, repair=args.repair)

    elif args.command == "takedown":
        from .plans.promote import takedown

        base = _make_store(spark, args.base_checkpoint_dir,
                           args.base_catalog, args.base_run_id,
                           required_by="takedown")
        takedown(base, _read_consider(spark, args.remove), args.output,
                 promote=args.promote, repair=args.repair)

    elif args.command == "stats":
        from pyspark.sql import functions as F

        from .operators.textstats import (
            exact_duplicates,
            fingerprint,
            language_id,
            quality_features,
            token_counts,
        )
        from .operators.timeline import enrich_pages

        pages, _ = _read_pages(spark, args.input)
        pages = _apply_consider(spark, pages, args.consider)
        docs = enrich_pages(pages, ["text"]).select(
            "urim", "url", "warc_ts", "text")
        annotated = exact_duplicates(
            fingerprint(token_counts(quality_features(language_id(docs)))),
            order_col="urim",
        )
        if args.quality_only:
            annotated = annotated.filter(F.col("quality_ok"))
        annotated.drop("text").write.mode("overwrite").parquet(args.output)

    elif args.command == "filter":
        from .operators.curation import exclude_duplicates, select_by_language
        from .operators.measures import memento_metadata

        pages, _ = _read_pages(spark, args.input)
        if not args.language and not args.exclude_duplicates:
            raise SystemExit(
                "filter needs --language and/or --exclude-duplicates")
        # F4 coupling, as in the reference tools: -c restricts the memento
        # set first; for D1 it ALSO selects the consideration-branch
        # control flow below
        pages = _apply_consider(spark, pages, args.consider)
        if "text" not in pages.columns:
            # warc: frames carry (url, warc_ts, html, lang) only — text is
            # derived lazily from html by enrich_pages; align to the
            # input_hint shape so the selects below resolve on every input
            from pyspark.sql import functions as F

            pages = pages.withColumn("text", F.lit(None).cast("string"))
        if args.language:
            from pyspark.sql import functions as F

            # the table's lang column wins; rows without one (warc: inputs
            # carry lang=null) fall back to the language-ID heuristic over
            # extracted text — mirroring the reference's detected-language
            # select (bin/select_by_language reads langdetect output)
            from .operators.textstats import language_id
            from .operators.timeline import enrich_pages

            tagged = language_id(enrich_pages(pages, ["text"]))
            pages = tagged.withColumn(
                "lang", F.coalesce(F.col("lang"), F.col("lang_pred")))
            pages = select_by_language(pages, args.language)
        if args.exclude_duplicates:
            meta = memento_metadata(pages.select(
                "url", "warc_ts", "html", "text", "lang"))
            kept = exclude_duplicates(meta, threshold=args.threshold,
                                      first_seen_skip=bool(args.consider))
            kept.select("urim").write.mode("overwrite").text(args.output)
        else:
            from .operators.timeline import with_memento_identity

            with_memento_identity(
                pages.select("url", "warc_ts", "html", "text", "lang")
            ).select("urim").write.mode("overwrite").text(args.output)

    elif args.command == "stream":
        from .streaming.ingest import (
            MODE_OUTPUTS,
            build_streaming_enrichment,
            streaming_crawl_rates,
            streaming_sequential_dedup,
            write_signatures_stream,
        )

        enriched = build_streaming_enrichment(
            spark, args.input, watermark=args.watermark,
            outputs=MODE_OUTPUTS[args.mode])
        if args.mode == "candidates":
            from .plans.promote import check_base_stages, stored_params
            from .streaming.ingest import streaming_incremental_candidates

            base = _make_store(spark, args.base_checkpoint_dir,
                               args.base_catalog, args.base_run_id,
                               required_by="stream --mode candidates")
            check_base_stages(base, ["bands"])
            # the delta's band hashes MUST live in the base table's
            # signature space: read the pinned hyperparameters from the
            # checkpoint (there is exactly one right answer, so no flags;
            # an older base without them gets the defaults)
            out = streaming_incremental_candidates(
                enriched, base.read("bands"), **(stored_params(base) or {}))
        elif args.mode == "dedup":
            out = streaming_sequential_dedup(enriched)
        elif args.mode == "rates":
            out = streaming_crawl_rates(enriched, window_duration=args.window)
            if args.once:
                print(
                    "note: append-mode windowed aggregation only emits "
                    "windows the watermark has passed — a bounded --once "
                    "drain withholds the trailing ~(watermark + window); "
                    "lower --watermark for bounded inputs.",
                    file=sys.stderr)
        else:
            query = write_signatures_stream(enriched, args.output,
                                            args.checkpoint, once=args.once)
            query.awaitTermination()
            return
        writer = (out.writeStream.format("parquet")
                  .option("path", args.output)
                  .option("checkpointLocation", args.checkpoint)
                  .outputMode("append"))
        if args.once:
            writer = writer.trigger(availableNow=True)
        query = writer.start()
        query.awaitTermination()

    elif args.command == "story":
        from .operators.measures import memento_metadata
        pages, _ = _read_pages(spark, args.input)
        pages = _apply_consider(spark, pages, args.consider)
        story_pipeline(memento_metadata(pages)) \
            .write.mode("overwrite").parquet(args.output)


if __name__ == "__main__":
    main(sys.argv[1:])
