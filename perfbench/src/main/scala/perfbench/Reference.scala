package perfbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** The per-key reference results a run is checked against, one
  * tab-separated line per key: key, rows, digest, schema hash, seconds in
  * the reference pass, check and reason. `check` is `exact` (rows, digest
  * and schema must match) or `rows` (rows and schema only; `reason` says
  * why the digest is not stable).
  */
object Reference {
  final case class Entry(rows: Long, digest: String, schema: String, costS: Double,
      exact: Boolean, reason: String)

  def load(path: Path): Map[String, Entry] =
    Files.readAllLines(path).asScala.iterator
      .filterNot(l => l.isEmpty || l.startsWith("#"))
      .map { l =>
        val f = l.split('\t')
        require(f.length >= 6 && (f(5) == "exact" || f(5) == "rows"), s"bad reference line: $l")
        f(0) -> Entry(f(1).toLong, f(2), f(3), f(4).toDouble, f(5) == "exact",
          if (f.length > 6) f(6) else "")
      }.toMap

  /** None when the result matches the reference, else what differs. */
  def check(ref: Option[Entry], d: Digest, schema: String): Option[String] = ref match {
    case None => Some("no reference result")
    case Some(e) =>
      if (e.schema != schema) Some(s"schema $schema, expected ${e.schema}")
      else if (e.rows != d.rows) Some(s"${d.rows} rows, expected ${e.rows}")
      else if (e.exact && e.digest != d.hex) Some(s"digest ${d.hex}, expected ${e.digest}")
      else None
  }

  /** Writes what a recording run saw, one line per key, for building or
    * re-checking the reference.
    */
  def write(path: Path, runs: Seq[KeyRun]): Unit = {
    val lines = runs.map { r =>
      val d = r.digest.getOrElse(Digest.Zero)
      Seq(r.key, d.rows.toString, d.hex, r.schema,
        f"${r.buildS}%.4f", f"${r.planS}%.4f", f"${r.sinkS}%.4f",
        r.error.getOrElse("")).mkString("\t")
    }
    Option(path.getParent).foreach(Files.createDirectories(_))
    Files.write(path, lines.asJava)
  }
}
