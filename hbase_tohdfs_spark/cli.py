"""CLI dispatcher mirroring the reference's 8 verbs (``App.java:14-29``).

Same verb names and positional-arg order as ``README.md:9-31``, with
proper arity validation (the reference only checks ``args.length == 0``
and otherwise throws raw ArrayIndexOutOfBounds — SURVEY.md §2.8 B5).

The HBase ``{table}`` argument becomes a KV-dataset path; ``{cf}`` filters
the column family exactly like ``scan.addFamily``.
"""

from __future__ import annotations

import argparse
import sys

from hbase_tohdfs_spark import __version__


def _build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="hbase-tohdfs-spark",
        description=f"PySpark-native HBase-ToHDFS engine. Version: {__version__}",
    )
    sub = p.add_subparsers(dest="verb", required=True)

    s = sub.add_parser("CreateTable", help="create a pre-split KV dataset")
    s.add_argument("table")
    s.add_argument("cf")
    s.add_argument("regions", type=int)

    s = sub.add_parser("PopulateTable", help="generate synthetic cells")
    s.add_argument("mappers", type=int)
    s.add_argument("records", type=int)
    s.add_argument("tmpPath")  # accepted for arg parity; unused (no bulk-load step)
    s.add_argument("table")
    s.add_argument("cf")
    s.add_argument("runID")

    s = sub.add_parser("ExportHBaseTableToDelimiteredTxt")
    s.add_argument("table")
    s.add_argument("cf")
    s.add_argument("outputFolder")
    s.add_argument("shouldCompressWithGz")
    s.add_argument("schemaLocationOnHdfs")
    s.add_argument("delimiter")
    s.add_argument("rowKeyColumn", nargs="?", default=None)

    s = sub.add_parser("ExportHBaseTableToDelimiteredSeq")
    s.add_argument("table")
    s.add_argument("cf")
    s.add_argument("outputFolder")
    s.add_argument("compressionCodec")
    s.add_argument("schemaLocationOnHdfs")
    s.add_argument("delimiter")
    s.add_argument("rowKeyColumn", nargs="?", default=None)

    for verb in (
        "ExportHBaseTableToAvro",
        "ExportHBaseTableToParquet",
        "ExportHBaseTableToOrc",  # extension: same arity as the Parquet verb
    ):
        s = sub.add_parser(verb)
        s.add_argument("table")
        s.add_argument("cf")
        s.add_argument("outputFolder")
        s.add_argument("compressionCodec")
        s.add_argument("schemaLocationOnHdfs")
        s.add_argument("rowKeyColumn", nargs="?", default=None)

    s = sub.add_parser("AvroReader")
    s.add_argument("dataFile")
    s.add_argument("schemaFile")
    s.add_argument("numberOfRecords", nargs="?", type=int, default=None)

    s = sub.add_parser("ParquetReader")
    s.add_argument("dataFile")
    s.add_argument("numberOfRecords", nargs="?", type=int, default=None)

    s = sub.add_parser("OrcReader")
    s.add_argument("dataFile")
    s.add_argument("numberOfRecords", nargs="?", type=int, default=None)

    # ---- pipeline verbs (beyond the reference's 8) ----
    s = sub.add_parser("Dedup", help="near-duplicate detection over documents")
    s.add_argument("documentsParquet")
    s.add_argument("outputFolder")
    s.add_argument(
        "--method",
        choices=[
            "exact", "minhash", "simhash", "ngram", "embedding", "phash",
            "semantic",
        ],
        default="minhash",
    )
    s.add_argument("--threshold", type=float, default=0.5)
    s.add_argument("--shingle-k", type=int, default=3)

    s = sub.add_parser("AnnTopK", help="top-k similarity search over embeddings")
    s.add_argument("embeddingsParquet")
    s.add_argument("outputFolder")
    s.add_argument("k", type=int)
    s.add_argument(
        "--method", choices=["exact", "lsh", "ivf", "sq8"], default="exact"
    )
    s.add_argument(
        "--query-ids", default="0,1,2,3,4", help="comma-separated vec_ids"
    )
    s.add_argument(
        "--dim", type=int, default=64, help="embedding dimensionality (lsh)"
    )

    s = sub.add_parser(
        "Sketch", help="probabilistic sketches over a column (kmv/cms/hll/bloom)"
    )
    s.add_argument("inputParquet")
    s.add_argument("outputFolder")
    s.add_argument(
        "--method", choices=["kmv", "cms", "hll", "bloom"], default="kmv"
    )
    s.add_argument("--group-by", default="event_type")
    s.add_argument("--value-col", default="user_id")
    s.add_argument("--k", type=int, default=64, help="kmv sketch size")
    s.add_argument(
        "--probes", default="0,1,2,3,4", help="cms probe values (comma-sep)"
    )
    s.add_argument(
        "--build-parquet", default=None,
        help="bloom: build-side table (defaults to inputParquet)",
    )
    s.add_argument(
        "--build-key", default=None,
        help="bloom: build-side key column (defaults to --value-col)",
    )

    s = sub.add_parser("TextStats", help="per-document quality metrics")
    s.add_argument("documentsParquet")
    s.add_argument("outputFolder")
    s.add_argument(
        "--repetition",
        action="store_true",
        help="emit Gopher-style repetition signals instead of text stats",
    )

    s = sub.add_parser(
        "Media", help="real media decode pipelines (BMP / PCM WAV / frame seq)"
    )
    s.add_argument("documentsParquet")
    s.add_argument("outputFolder")
    s.add_argument(
        "--modality", choices=["image", "audio", "video"], default="image"
    )

    s = sub.add_parser("Pii", help="PII scrubbing / URL domain stats")
    s.add_argument("documentsParquet")
    s.add_argument("outputFolder")
    s.add_argument("--op", choices=["scrub", "urls"], default="scrub")

    s = sub.add_parser(
        "Curate", help="corpus curation: splits / packing / decontamination"
    )
    s.add_argument("documentsParquet")
    s.add_argument("outputFolder")
    s.add_argument(
        "--op",
        choices=[
            "split", "pack", "decontaminate", "passage-dedup", "rebalance",
            "temperature-mix",
        ],
        default="split",
    )
    s.add_argument("--group-col", default="source", help="split hash group")
    s.add_argument("--budget", type=int, default=512, help="pack token budget")
    s.add_argument("--streams", type=int, default=32, help="pack streams")
    s.add_argument(
        "--eval-pct", type=int, default=4, help="decontaminate eval bucket %%"
    )
    s.add_argument(
        "--chunk-tokens", type=int, default=10, help="passage-dedup chunk size"
    )

    return p


def main(argv: list[str] | None = None, spark=None) -> int:
    args = _build_parser().parse_args(argv)

    # Imports deferred so `--help` stays JVM-free.
    from hbase_tohdfs_spark import generate, table as tbl
    from hbase_tohdfs_spark.operators import pivot as piv
    from hbase_tohdfs_spark.session import get_spark
    from hbase_tohdfs_spark.sinks import writers
    from hbase_tohdfs_spark.sources import readers, schema_file

    if spark is None:
        spark = get_spark(app_name=f"hbase-tohdfs-spark:{args.verb}")

    if args.verb == "CreateTable":
        tbl.create_table(spark, args.table, args.cf, args.regions)
    elif args.verb == "PopulateTable":
        cells = generate.populate_cells(spark, args.mappers, args.records, args.runID)
        tbl.write_cells(cells, args.table)
    elif args.verb in (
        "ExportHBaseTableToDelimiteredTxt",
        "ExportHBaseTableToDelimiteredSeq",
    ):
        schema = schema_file.load_schema(args.schemaLocationOnHdfs, fmt="csv")
        cells = tbl.read_table(spark, args.table)
        wide = piv.pivot_cells(
            cells,
            schema.columns,
            row_key_col=args.rowKeyColumn,
            column_family=args.cf,
            drop_empty=False,
        )
        if args.verb == "ExportHBaseTableToDelimiteredTxt":
            gz = args.shouldCompressWithGz.lower() == "true"
            writers.write_delimited_text(
                wide, args.outputFolder, schema.columns, args.delimiter, gzip=gz
            )
        else:
            writers.write_sequencefile(
                wide,
                args.outputFolder,
                schema.columns,
                args.delimiter,
                codec=args.compressionCodec,
            )
    elif args.verb in (
        "ExportHBaseTableToAvro",
        "ExportHBaseTableToParquet",
        "ExportHBaseTableToOrc",
    ):
        schema = schema_file.load_schema(args.schemaLocationOnHdfs, fmt="avro")
        cells = tbl.read_table(spark, args.table)
        typed = piv.pivot_typed(
            cells,
            schema,
            row_key_col=args.rowKeyColumn,
            column_family=args.cf,
            drop_empty=True,
        ).select(*schema.columns)  # reference emits schema fields only
        if args.verb == "ExportHBaseTableToAvro":
            writers.write_avro(
                typed, args.outputFolder, schema, codec=args.compressionCodec
            )
        elif args.verb == "ExportHBaseTableToOrc":
            writers.write_orc(typed, args.outputFolder, codec=args.compressionCodec)
        else:
            writers.write_parquet(typed, args.outputFolder, codec=args.compressionCodec)
    elif args.verb == "AvroReader":
        with open(args.schemaFile, encoding="utf-8") as fh:
            reader_schema = fh.read()
        df = readers.read_avro(spark, args.dataFile, reader_schema_json=reader_schema)
        readers.print_records(df, args.numberOfRecords)
    elif args.verb == "ParquetReader":
        df = readers.read_parquet(spark, args.dataFile)
        readers.print_records(df, args.numberOfRecords)
    elif args.verb == "OrcReader":
        df = readers.read_orc(spark, args.dataFile)
        readers.print_records(df, args.numberOfRecords)
    elif args.verb == "Dedup":
        from hbase_tohdfs_spark.operators import dedup

        docs = spark.read.parquet(args.documentsParquet)
        if args.method == "exact":
            out = dedup.exact_dedup(docs)
        elif args.method == "minhash":
            out = dedup.minhash_dedup_pairs(docs, args.shingle_k, args.threshold)
        elif args.method == "simhash":
            out = dedup.simhash_dup_pairs(docs)
        elif args.method == "ngram":
            out = dedup.ngram_jaccard_pairs(docs, 2, args.threshold)
        elif args.method == "phash":
            from hbase_tohdfs_spark.operators import multimodal

            out = multimodal.phash_dup_groups(
                multimodal.render_image_phash(docs)
            )
        elif args.method == "semantic":
            from hbase_tohdfs_spark.operators import similarity

            emb = spark.read.parquet(args.documentsParquet)
            out = similarity.semantic_dedup(emb, tau=args.threshold)
        else:
            emb = spark.read.parquet(args.documentsParquet)
            out = dedup.embedding_dup_pairs(emb, args.threshold)
        out.write.mode("overwrite").parquet(args.outputFolder)
    elif args.verb == "AnnTopK":
        from hbase_tohdfs_spark.operators import similarity

        emb = spark.read.parquet(args.embeddingsParquet)
        qids = [int(x) for x in args.query_ids.split(",") if x != ""]
        if args.method == "exact":
            out = similarity.cosine_topk(emb, qids, args.k)
        elif args.method == "lsh":
            out = similarity.lsh_topk(emb, qids, args.k, dim=args.dim)
        elif args.method == "sq8":
            out = similarity.sq8_topk(emb, qids, args.k)
        else:
            out = similarity.ivf_topk(emb, qids, args.k)
        out.write.mode("overwrite").parquet(args.outputFolder)
    elif args.verb == "TextStats":
        from hbase_tohdfs_spark.operators import text as text_ops

        docs = spark.read.parquet(args.documentsParquet)
        out = (
            text_ops.repetition_signals(docs)
            if args.repetition
            else text_ops.text_stats(docs)
        )
        out.write.mode("overwrite").parquet(args.outputFolder)
    elif args.verb == "Sketch":
        from hbase_tohdfs_spark.operators import sketch

        df = spark.read.parquet(args.inputParquet)
        if args.method == "kmv":
            out = sketch.kmv_distinct(df, args.group_by, args.value_col, k=args.k)
        elif args.method == "hll":
            out = sketch.hll_distinct(df, args.group_by, args.value_col)
        elif args.method == "cms":
            probes = [v for v in args.probes.split(",") if v != ""]
            out = sketch.cms_estimate(df, args.value_col, probes)
        else:
            build = spark.read.parquet(args.build_parquet or args.inputParquet)
            out = sketch.bloom_semijoin_stats(
                df, build, args.value_col, args.build_key or args.value_col
            )
        out.write.mode("overwrite").parquet(args.outputFolder)
    elif args.verb == "Pii":
        from hbase_tohdfs_spark.operators import text as text_ops

        docs = spark.read.parquet(args.documentsParquet)
        out = (
            text_ops.pii_scrub(docs)
            if args.op == "scrub"
            else text_ops.url_stats(docs)
        )
        out.write.mode("overwrite").parquet(args.outputFolder)
    elif args.verb == "Media":
        from hbase_tohdfs_spark.operators import multimodal

        docs = spark.read.parquet(args.documentsParquet)
        # fused render+decode passes (r12): one Python stage per
        # modality
        if args.modality == "image":
            out = multimodal.render_image_stages(docs)
        elif args.modality == "audio":
            out = multimodal.render_audio_features(docs)
        else:
            out = multimodal.render_video_frames(docs)
        out.write.mode("overwrite").parquet(args.outputFolder)
    elif args.verb == "Curate":
        from hbase_tohdfs_spark.operators import curation

        docs = spark.read.parquet(args.documentsParquet)
        if args.op == "split":
            out = curation.assign_splits(docs, group_col=args.group_col)
        elif args.op == "pack":
            out = curation.pack_sequences(
                docs, budget=args.budget, n_streams=args.streams
            )
        elif args.op == "decontaminate":
            out = curation.contamination_report(docs, eval_pct=args.eval_pct)
        elif args.op == "rebalance":
            out = curation.domain_rebalance(docs)
        elif args.op == "temperature-mix":
            out = curation.temperature_mix(docs)
        else:
            out = curation.passage_dedup(docs, chunk_tokens=args.chunk_tokens)
        out.write.mode("overwrite").parquet(args.outputFolder)
    return 0


if __name__ == "__main__":
    sys.exit(main())
