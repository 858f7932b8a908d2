"""hbase_tohdfs_spark — a PySpark-native analytics engine with the query &
data-processing capabilities of tmalaska/HBase-ToHDFS, rebuilt Spark-first.

The reference (surveyed in SURVEY.md) is an HBase→HDFS export pipeline whose
core computation is a pivot from narrow KV cells ``(row_key, qualifier,
value)`` to wide schema-typed rows, written as delimited text, SequenceFile,
Avro, or Parquet.  This package re-expresses that surface — plus the
large-scale training-data-pipeline operators (dedup, similarity search,
text analysis, multimodal columns) — on the DataFrame/SQL API so Catalyst
and Tungsten pick the physical strategy.

Layout:
    session.py          SparkSession factory (AQE on, Arrow on)
    model.py            KV cell schema; CSV/Avro schema files -> StructType
    generate.py         PopulateTable equivalent (deterministic)
    table.py            CreateTable equivalent (range-partitioned KV dataset)
    cli.py              the 8 reference CLI verbs (App.java:14-29)
    operators/pivot.py  the core pivot (group-by-rowkey, last-write-wins)
    operators/unpivot.py wide -> narrow cells (ingest / test inverse)
    operators/dedup.py  exact + MinHash-LSH + SimHash + embedding dedup
    operators/similarity.py brute-force & LSH ANN over embeddings
    operators/text.py   lang-id, quality, token count, fingerprints
    operators/multimodal.py binary columns + Pandas-UDF feature plumbing
    functions/codec.py  HBase Bytes.toInt/toLong big-endian decode exprs
    hadoop.py           driver-side Hadoop FileSystem helpers; the AvroSerDe clause
    sinks/writers.py    text/csv(+gzip), SequenceFile, Avro, Parquet sinks
    sources/readers.py  Avro (Hive AvroSerDe)/Parquet readers with limit (AvroReader.java)
    sources/schema_file.py CSV + Avro schema-file readers
    formats/avrolite.py pure-Python Avro container codec, the independent
                        decoder that checks the JVM's Avro output
    streaming/pivot_stream.py Structured Streaming pivot over event streams
"""

__version__ = "0.1.0"
