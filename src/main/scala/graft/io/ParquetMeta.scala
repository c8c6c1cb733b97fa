package graft.io

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, Metadata, MetadataBuilder, StructType}

/** File-level KV metadata on parquet sinks — the reference stamps its
  * converter provenance into the parquet footer
  * (`touchdetector_version` / `touch2parquet_version`,
  * src/touches/parquet_writer.cpp:115-120).
  *
  * Spark's parquet writer owns the footer (`PageParquet` writes the
  * same one), and its one file-level KV entry is the schema JSON
  * (`org.apache.spark.sql.parquet.row.metadata`), which embeds
  * per-field `Metadata`. So the KV pairs ride
  * as a nested metadata map on the FIRST schema field under the
  * `graft.file_meta` key: they land physically in every footer, survive
  * a write→read round trip through any Spark reader, and stay invisible
  * to value-level comparison.
  */
object ParquetMeta {

  val MetaKey = "graft.file_meta"

  /** Write `df` with the given footer KV pairs and any parquet writer
    * options through Spark's parquet writer.
    */
  def writeWithMeta(df: DataFrame, path: String, kv: Map[String, String],
                    options: Map[String, String] = Map.empty): Unit = {
    val first = stampedSchema(df.schema, kv).head
    df.withMetadata(first.name, first.metadata).write.mode("overwrite").options(options).parquet(path)
  }

  /** `schema` with the footer KV pairs merged into its first field's
    * metadata, for any parquet sink that writes Spark's schema entry.
    */
  def stampedSchema(schema: StructType, kv: Map[String, String]): StructType = {
    require(schema.nonEmpty, "cannot stamp metadata on a zero-column schema")
    val inner = kv.foldLeft(new MetadataBuilder()) {
      case (b, (k, v)) => b.putString(k, v)
    }.build()
    val merged = new MetadataBuilder()
      .withMetadata(schema.head.metadata)
      .putMetadata(MetaKey, inner)
      .build()
    StructType(schema.head.copy(metadata = merged) +: schema.tail)
  }

  /** Spark's footer key holding the row schema as JSON. */
  private val SparkSchemaKey = "org.apache.spark.sql.parquet.row.metadata"

  /** The file-meta map read back from a parquet sink (empty metadata if
    * the sink carries none). Every part file of a sink carries the same
    * schema entry, so the footer of the first one, read with
    * parquet-hadoop, is enough: no Spark job runs (schema inference
    * would merge the footers in one).
    */
  def readMeta(spark: SparkSession, path: String): Metadata = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    val part =
      if (!fs.getFileStatus(root).isDirectory) root
      else {
        // Spark's data-file rule: `_SUCCESS` and `.crc` files are not parts
        val parts = fs.listStatus(root).filter(_.isFile).map(_.getPath)
          .filterNot(p => p.getName.startsWith("_") || p.getName.startsWith("."))
        require(parts.nonEmpty, s"$path: no parquet part file")
        parts.minBy(_.getName)
      }
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(part, conf))
    val json = try reader.getFooter.getFileMetaData.getKeyValueMetaData.get(SparkSchemaKey)
      finally reader.close()
    Option(json).map(DataType.fromJson(_).asInstanceOf[StructType])
      .flatMap(_.fields.find(_.metadata.contains(MetaKey)))
      .map(_.metadata.getMetadata(MetaKey)).getOrElse(Metadata.empty)
  }
}
