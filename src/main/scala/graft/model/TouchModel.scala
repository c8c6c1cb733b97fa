package graft.model

import org.apache.spark.sql.types._

/** Touch data model — the versioned record schema of TouchDetector binary
  * output, re-expressed as one ordered layout table of flat output
  * columns; each version's schema is a prefix of it.
  *
  * Reference layout: struct inheritance v1 ⊂ v2 ⊂ v3
  * (src/touches/touch_defs.h:19-92); raw record widths incl. C padding are
  * 40 / 80 / 104 bytes. Output column names follow the writer schema at
  * src/touches/parquet_writer.cpp:21-102 (pre/post → efferent/afferent
  * rename, float[3] arrays flattened, branch-type nibbles unpacked —
  * SURVEY.md §1.5.3-4).
  */
object TouchModel {

  sealed abstract class Version(val ordinal: Int, val recordSize: Int)
  case object V1 extends Version(1, 40)
  case object V2 extends Version(2, 80)
  case object V3 extends Version(3, 104)

  /** Version sniff from the index-file version string
    * (src/touches/touch_reader.cpp:95-117): `>=6` or `>=5.4` → V3,
    * `>=5` or `>=4.99` → V2, anything non-numeric (git hashes) → V1.
    * Mimics C++ `std::stoi` (parses a leading integer, throws if there is
    * none or it overflows int32; the reference's catch-all makes either V1).
    */
  def sniffVersion(versionString: String): Version = {
    val clean = versionString.takeWhile(_ != '\u0000')
    def stoi(s: String): Option[Int] = {
      val m = "^[+-]?\\d+".r.findFirstIn(s.trim)
      m.flatMap(d => scala.util.Try(d.toInt).toOption)
    }
    // -1 keeps trailing empty components: "5." must yield ["5", ""] so
    // the empty component rejects the string to V1 exactly like the
    // reference's throwing stoi on its trailing empty range
    val parts = clean.split("\\.", -1).toSeq.map(stoi)
    // the reference materializes every stoi BEFORE comparing, so one
    // unparsable component (e.g. "5.x") rejects the WHOLE string → V1
    // (touch_reader.cpp:99-116's catch-all) — not just the parsed prefix
    if (parts.isEmpty || parts.exists(_.isEmpty)) V1
    else {
      val vs = parts.map(_.get)
      if (vs(0) >= 6 || (vs.size >= 2 && vs(0) >= 5 && vs(1) >= 4)) V3
      else if (vs(0) >= 5 || (vs.size >= 2 && vs(0) >= 4 && vs(1) >= 99)) V2
      else V1
    }
  }

  /** One output column of the decoded record: its name, Spark type,
    * the byte offset of its source field in the raw C struct
    * (touch_defs.h:19-63; v2 pads to 80, v3 appends at 80) and the
    * first record version that carries it. Int and float columns read
    * the 4-byte word at `offset`; short and byte columns narrow the
    * int32 word there (section/segment ids, branch order). The three
    * `derived` columns are computed rather than read as their type at
    * `offset`, and their fill loops are named in
    * `sources.TouchDataSource.fill`: `synapse_id` (from the pre-gid
    * word at 0 and the row's position), and the two section types (the
    * nibbles of the `branch_type` byte at 76).
    */
  final case class Field(name: String, dataType: DataType, offset: Int, since: Int,
                         derived: Boolean = false)

  /** The record layout, in output column order. */
  val Layout: Seq[Field] = Seq(
    Field("synapse_id", LongType, 0, 1, derived = true),
    Field("source_node_id", IntegerType, 0, 1),
    Field("target_node_id", IntegerType, 12, 1),
    Field("efferent_section_id", ShortType, 4, 1),
    Field("efferent_segment_id", ShortType, 8, 1),
    Field("afferent_section_id", ShortType, 16, 1),
    Field("afferent_segment_id", ShortType, 20, 1),
    Field("efferent_segment_offset", FloatType, 32, 1),
    Field("afferent_segment_offset", FloatType, 36, 1),
    Field("distance_soma", FloatType, 28, 1),
    Field("branch_order", ByteType, 24, 1),
    Field("efferent_section_pos", FloatType, 40, 2),
    Field("afferent_section_pos", FloatType, 44, 2),
    Field("efferent_surface_x", FloatType, 48, 2),
    Field("efferent_surface_y", FloatType, 52, 2),
    Field("efferent_surface_z", FloatType, 56, 2),
    Field("afferent_center_x", FloatType, 60, 2),
    Field("afferent_center_y", FloatType, 64, 2),
    Field("afferent_center_z", FloatType, 68, 2),
    Field("spine_length", FloatType, 72, 2),
    Field("efferent_section_type", ByteType, 76, 2, derived = true),
    Field("afferent_section_type", ByteType, 76, 2, derived = true),
    Field("efferent_center_x", FloatType, 80, 3),
    Field("efferent_center_y", FloatType, 84, 3),
    Field("efferent_center_z", FloatType, 88, 3),
    Field("afferent_surface_x", FloatType, 92, 3),
    Field("afferent_surface_y", FloatType, 96, 3),
    Field("afferent_surface_z", FloatType, 100, 3))

  def field(name: String): Field = Layout.find(_.name == name)
    .getOrElse(throw new IllegalArgumentException(s"no touch field $name"))

  def fieldsFor(v: Version): Seq[Field] = Layout.filter(_.since <= v.ordinal)
}
