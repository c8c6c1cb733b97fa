package graft

import org.apache.spark.sql.DataFrame
import scala.sys.process._

/** The independent Python checkers under `tools/` (`h5check.py` for the
  * HDF5 container, `touchcheck.py` for TouchDetector touch files,
  * `parquetcheck.py` for parquet sinks), run
  * as separate processes so they share nothing with the code under test.
  */
object ToolCheck {

  /** `python3 tools/<tool> args...`: (exit code, stdout and stderr). */
  def run(tool: String, args: String*): (Int, String) = {
    val out = new StringBuilder
    val code = Process(Seq("python3", s"tools/$tool") ++ args)
      .!(ProcessLogger(l => out.append(l).append('\n'), l => out.append(l).append('\n')))
    (code, out.toString)
  }

  def h5check(path: String): (Int, String) = run("h5check.py", path)

  /** `touchcheck.py`'s rows for one touch data file, in file order. */
  def touchRows(dataPath: String): Seq[String] = {
    val (code, out) = run("touchcheck.py", dataPath)
    assert(code == 0, s"touchcheck rejected $dataPath:\n$out")
    out.linesIterator.toSeq
  }

  /** A touch frame's rows rendered as `touchcheck.py` and
    * `parquetcheck.py` print them: `|`-separated, integers in decimal,
    * floats as their IEEE-754 bit pattern (`floatToIntBits` maps every
    * NaN to 0x7fc00000).
    */
  def rendered(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(_.toSeq.map {
      case f: Float => f"0x${java.lang.Float.floatToIntBits(f)}%08x"
      case v => v.toString
    }.mkString("|"))
}
