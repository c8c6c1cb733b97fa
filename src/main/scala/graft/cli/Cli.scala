package graft.cli

import org.apache.spark.sql.SparkSession

/** CLI parity with the reference's two converters, so a user can run the
  * same jobs without writing Scala (reference: `touch2parquet
  * <touchesData...> <outdir>` and `parquet2hdf5 <parquet-dir> <out>
  * <population>`). Local sessions here; on a cluster, submit the same
  * mains with `spark-submit --master ...`.
  */
private[cli] object Cli {
  def session(app: String): SparkSession = {
    val b = SparkSession.builder().appName(app)
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.session.timeZone", "UTC")
    // spark-submit's --master (surfaced as the spark.master system
    // property) must win: only force a master when explicitly requested
    // via the env, falling back to local[*] ONLY when nothing else
    // configured one (bare `runMain` during development).
    (sys.env.get("SPARK_GRAFT_MASTER") match {
      case Some(m) => b.master(m)
      case None if sys.props.contains("spark.master") => b
      case None => b.master("local[*]")
    }).getOrCreate()
  }
}

/** `runMain graft.cli.Touch2Parquet <touchesData.N>... <outDir>` —
  * converts one or more TouchDetector binary files (each with its
  * companion index next to it) into a single parquet dataset, like the
  * reference's `touch2parquet` (src/touch2parquet.cpp:34-138). Multiple
  * inputs must share a schema version; they union into one sink
  * (`TouchToParquet.convertMany`).
  */
object Touch2Parquet {

  /** The testable body (mains own the session): returns the line
    * `main` prints, with the row count the sink's tasks counted while
    * writing.
    */
  def run(spark: SparkSession, inputs: Seq[String], outDir: String): String = {
    val n = graft.pipelines.TouchToParquet.convertMany(spark, inputs, outDir)
    s"touch2parquet: wrote $n rows to $outDir"
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Touch2Parquet <touchesData.N>... <outDir>")
    val spark = Cli.session("touch2parquet")
    try println(run(spark, args.dropRight(1).toSeq, args.last))
    finally spark.stop()
  }
}

/** `runMain graft.cli.Parquet2Sonata <edgesParquetDir> <out.h5>
  * <population> [sourceCol targetCol [enumCol...]]` — converts a
  * parquet edge directory into one SONATA HDF5 edge file (ordered edge
  * datasets, both CSR index directions, `@library` dictionaries), like
  * the reference's `parquet2hdf5 <parquet-dir> <out.h5> <population>`
  * (src/parquet2hdf5.cpp:171-251).
  */
object Parquet2Sonata {

  /** The testable body (mains own the session): returns the edge count,
    * read from the written container's metadata.
    */
  def run(spark: SparkSession, parquetDir: String, outFile: String, population: String,
          sourceCol: String = "source_node_id", targetCol: String = "target_node_id",
          enumCols: Seq[String] = Seq.empty): Long = {
    val edges = graft.io.SchemaSidecar.readParquetDir(spark, parquetDir)
    // every column but the node ids and the dropped ones tiebreaks the
    // order, so edge_id is a total order over the input
    val tiebreak = edges.columns.filterNot(
      (Seq(sourceCol, targetCol) ++ graft.pipelines.SonataH5.SkipColumns).contains).toSeq
    graft.pipelines.SonataH5.convert(spark, edges,
      sourceCol, targetCol, outFile, population, tiebreak, enumCols)
    graft.sources.Hdf5DataSource.layout(outFile, Some(population)).nRows
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: Parquet2Sonata <edgesDir> <out.h5> <population> [sourceCol targetCol [enumCol...]]")
    val sourceCol = if (args.length > 3) args(3) else "source_node_id"
    val targetCol = if (args.length > 4) args(4) else "target_node_id"
    val spark = Cli.session("parquet2sonata")
    try {
      val n = run(spark, args(0), args(1), args(2), sourceCol, targetCol, args.drop(5).toSeq)
      println(s"parquet2sonata: wrote $n edges + indices to ${args(1)}")
    } finally spark.stop()
  }
}

/** `runMain graft.cli.Touch2Sonata <touchesData.N> <outDir> <population>`
  * — the full reference pipeline in one command: TouchDetector binary →
  * `<outDir>/parquet` (provenance-stamped edge table) →
  * `<outDir>/edges.h5` (SONATA edge file, `/edges/<population>/`).
  * Equivalent to `touch2parquet` followed by `parquet2hdf5` in the
  * reference.
  */
object Touch2Sonata {

  /** The testable pipeline body (mains own session lifecycle, tests
    * share one): returns the ordered edge count.
    */
  def run(spark: SparkSession, touchesData: String, outDir: String,
          population: String): Long = {
    val parquetDir = s"$outDir/parquet"
    graft.pipelines.TouchToParquet.convert(spark, touchesData, parquetDir)
    Parquet2Sonata.run(spark, parquetDir, s"$outDir/edges.h5", population)
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: Touch2Sonata <touchesData.N> <outDir> <population>")
    val spark = Cli.session("touch2sonata")
    try {
      val n = run(spark, args(0), args(1), args(2))
      println(s"touch2sonata: wrote $n edges + indices to ${args(1)}/edges.h5 " +
        s"(intermediate parquet at ${args(1)}/parquet)")
    } finally spark.stop()
  }
}

/** `runMain graft.cli.CurateCorpus <documentsParquetDir|file> <outDir>
  * [tokensPerShard]` — the one-command training-data pipeline over a
  * raw `documents` table, composing the curation operators end-to-end:
  *
  *   1. md5-bucket held-out split (the ~10% eval side);
  *   2. near-dup clustering over the TRAINING pair graph, keep cluster
  *      minima; 8-gram decontamination vs the held-out split; integer
  *      repetition-quality gate  (ext.Curate.curateCorpus);
  *   3. PII redaction + normalization of the survivors' text;
  *   4. deterministic md5-order corpus shuffle + token-budget shard
  *      packing (exclusive weighted prefix scan);
  *   5. one JSONL file per shard (`shard=N/part-*.json` via a
  *      partitioned write) — the layout a trainer consumes.
  *
  * Counterpart of the reference's converter CLIs for the engine's
  * training-data side: raw table in, training shards out.
  */
object CurateCorpus {

  /** Testable body; returns (kept docs, shards written). */
  def run(spark: SparkSession, docsPath: String, outDir: String,
          tokensPerShard: Long): (Long, Long) = {
    import org.apache.spark.sql.functions._
    // div-by-zero in the shard expression would yield null shards and a
    // __HIVE_DEFAULT_PARTITION__ layout; negatives, negative shard ids
    require(tokensPerShard > 0, s"tokensPerShard must be positive, got $tokensPerShard")
    val docs = spark.read.parquet(docsPath)
    val evalSide = graft.ext.Sampling.hashBucket(col("doc_id")) < 6554
    val kept = graft.ext.Curate.curateCorpus(docs, evalSide)
    val cleaned = kept.join(docs.select(col("doc_id"), col("text")), "doc_id")
      .select(col("doc_id"), col("lang"), col("source"), col("n_tokens"),
        graft.ext.TextAnalysis.normalize(
          graft.ext.TextAnalysis.redactPii(col("text"))).as("text"))
    val packed = graft.ops.Offsets.globalWeightedPrefix(cleaned,
        Seq(md5(col("doc_id").cast("string")), col("doc_id")),
        "n_tokens", "cum_tokens")
      .withColumn("shard", expr(s"cum_tokens div $tokensPerShard"))
    packed.write.mode("overwrite").partitionBy("shard").json(outDir)
    // summary from ONE read-back pass: explicit schema (no inference
    // scan over the JSON text) and a single aggregate for both counts
    val row = spark.read.schema(packed.schema).json(outDir)
      .agg(count(lit(1)), count_distinct(col("shard"))).head
    (row.getLong(0), row.getLong(1))
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: CurateCorpus <documentsParquet> <outDir> [tokensPerShard]")
    val tokensPerShard = if (args.length > 2) args(2).toLong else 1000000L
    val spark = Cli.session("curatecorpus")
    try {
      val (n, shards) = run(spark, args(0), args(1), tokensPerShard)
      println(s"curatecorpus: wrote $n curated documents in $shards shards to ${args(1)}")
    } finally spark.stop()
  }
}
