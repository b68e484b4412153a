package graftbench

import java.io.File
import java.nio.file.Files

/** Snapshot layout of a KgRunner output directory, as the tracer needs it:
  * the snapshot directories KgRunner commits, and the small metadata ones
  * reported together as the `meta` stage. `perfbench/metrics.py` holds both
  * lists and passes them on the command line.
  */
final case class KgLayout(snapshots: Seq[String], meta: Set[String]) {
  def stageOf(snapshot: String): String =
    if (meta(snapshot)) "meta" else snapshot
}

object KgLayout {
  private val RowsRe = "\"rows\":(\\d+)".r

  def manifestRows(dir: String): Option[Long] = {
    val f = new File(s"$dir/_manifest.json")
    if (!f.exists) None
    else RowsRe.findFirstMatchIn(Files.readString(f.toPath)).map(_.group(1).toLong)
  }
}
