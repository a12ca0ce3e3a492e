package graft.core

/** Core result/metric ADTs for the graft validation engine.
  *
  * Shapes mirror the reference's result model (term-guard/src/core/constraint.rs:13-95,
  * term-guard/src/analyzers/types.rs:13-34) re-expressed as idiomatic Scala ADTs.
  */
sealed trait Level
object Level {
  case object Error   extends Level
  case object Warning extends Level
  case object Info    extends Level
}

sealed trait ConstraintStatus
object ConstraintStatus {
  case object Success extends ConstraintStatus
  case object Failure extends ConstraintStatus
  /** Empty input or inapplicable constraint (reference: completeness.rs:170-201). */
  case object Skipped extends ConstraintStatus
}

/** Tagged union of metric values (reference: analyzers/types.rs:13-34). */
sealed trait MetricValue {
  def asDouble: Option[Double] = this match {
    case MetricValue.DoubleMetric(v)  => Some(v)
    case MetricValue.LongMetric(v)    => Some(v.toDouble)
    case MetricValue.BooleanMetric(v) => Some(if (v) 1.0 else 0.0)
    case _                            => None
  }
}
object MetricValue {
  final case class DoubleMetric(value: Double)            extends MetricValue
  final case class LongMetric(value: Long)                extends MetricValue
  final case class StringMetric(value: String)            extends MetricValue
  final case class BooleanMetric(value: Boolean)          extends MetricValue
  final case class VectorMetric(value: Seq[Double])       extends MetricValue
  final case class HistogramMetric(value: Histogram)      extends MetricValue
  final case class MapMetric(value: Map[String, MetricValue]) extends MetricValue
}

/** Value histogram (reference: constraints/histogram.rs:15-35). */
final case class Histogram(
    buckets: Map[String, HistogramBucket],
    total: Long,
    distinctCount: Long,
    nullCount: Long) {
  def ratio(value: String): Double = buckets.get(value).map(_.ratio).getOrElse(0.0)
  def count(value: String): Long   = buckets.get(value).map(_.count).getOrElse(0L)
}
final case class HistogramBucket(count: Long, ratio: Double)

final case class ConstraintResult(
    constraint: String,
    status: ConstraintStatus,
    metric: Option[MetricValue],
    message: String,
    /** Wall time attributable to this constraint (lightweight parity with the
      * reference's per-constraint telemetry spans, term-guard/src/telemetry.rs).
      * Multi-job constraints report their own evaluation; constraints batched into a
      * shared scan all report that scan's duration — like concurrent spans, the
      * per-constraint durations of one suite may sum to more than its wall clock.
      */
    durationMillis: Long = 0L) {
  def isSuccess: Boolean = status == ConstraintStatus.Success
  def isFailure: Boolean = status == ConstraintStatus.Failure
}

/** Numeric assertion applied to a computed metric
  * (reference: constraints/assertion.rs:27-61; ε=1e-10 equality).
  */
sealed trait Assertion {
  import Assertion._
  def apply(v: Double): Boolean = this match {
    case Equals(x)             => math.abs(v - x) < Eps
    case NotEquals(x)          => math.abs(v - x) >= Eps
    case GreaterThan(x)        => v > x
    case GreaterThanOrEqual(x) => v >= x
    case LessThan(x)           => v < x
    case LessThanOrEqual(x)    => v <= x
    case Between(lo, hi)       => v >= lo && v <= hi
    case NotBetween(lo, hi)    => v < lo || v > hi
  }
  def describe: String = this match {
    case Equals(x)             => s"== $x"
    case NotEquals(x)          => s"!= $x"
    case GreaterThan(x)        => s"> $x"
    case GreaterThanOrEqual(x) => s">= $x"
    case LessThan(x)           => s"< $x"
    case LessThanOrEqual(x)    => s"<= $x"
    case Between(lo, hi)       => s"in [$lo, $hi]"
    case NotBetween(lo, hi)    => s"not in [$lo, $hi]"
  }
}
object Assertion {
  val Eps = 1e-10
  final case class Equals(x: Double)             extends Assertion
  final case class NotEquals(x: Double)          extends Assertion
  final case class GreaterThan(x: Double)        extends Assertion
  final case class GreaterThanOrEqual(x: Double) extends Assertion
  final case class LessThan(x: Double)           extends Assertion
  final case class LessThanOrEqual(x: Double)    extends Assertion
  final case class Between(lo: Double, hi: Double)    extends Assertion
  final case class NotBetween(lo: Double, hi: Double) extends Assertion
}

/** Numeric coercion from collected Spark Row values. */
object Num {
  def toDouble(a: Any): Option[Double] = a match {
    case null                 => None
    case d: Double            => Some(d)
    case f: Float             => Some(f.toDouble)
    case l: Long              => Some(l.toDouble)
    case i: Int               => Some(i.toDouble)
    case s: Short             => Some(s.toDouble)
    case b: Byte              => Some(b.toDouble)
    case bd: java.math.BigDecimal => Some(bd.doubleValue)
    case bd: BigDecimal       => Some(bd.toDouble)
    case b: Boolean           => Some(if (b) 1.0 else 0.0)
    case _                    => None
  }
  def toLong(a: Any): Option[Long] = a match {
    case null      => None
    case l: Long   => Some(l)
    case i: Int    => Some(i.toLong)
    case s: Short  => Some(s.toLong)
    case b: Byte   => Some(b.toLong)
    case d: Double => Some(d.toLong)
    case f: Float  => Some(f.toLong)
    case bd: java.math.BigDecimal => Some(bd.longValue)
    case bd: BigDecimal => Some(bd.toLong)
    case b: Boolean     => Some(if (b) 1L else 0L)
    case _         => None
  }
}

/** Local-file helpers: a recursive delete, shared by the harness cleanup paths
  * (source-query temp dirs, stale verify output), and the atomic replace both stores
  * write through.
  */
private[graft] object FsUtil {
  /** On the local file system, `write`s a hidden sibling of `path`, then rename(2)s it
    * over `path`, which replaces it atomically for a concurrent reader. The write goes
    * past Hadoop's checksum layer: no `.crc` sidecar and no `chmod` process. A sidecar
    * left by an older writer is deleted first, or the checksummed reader would verify
    * the new bytes against it. Returns false, writing nothing, on any other file system.
    */
  def replaceLocal(path: org.apache.hadoop.fs.Path, conf: org.apache.hadoop.conf.Configuration)(
      write: java.nio.file.Path => Unit): Boolean = path.getFileSystem(conf) match {
    case local: org.apache.hadoop.fs.LocalFileSystem =>
      val target = local.pathToFile(path).toPath
      val tmp = target.resolveSibling(s".${target.getFileName}.tmp")
      java.nio.file.Files.createDirectories(target.getParent)
      write(tmp)
      java.nio.file.Files.deleteIfExists(local.pathToFile(local.getChecksumFile(path)).toPath)
      java.nio.file.Files.move(tmp, target, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      true
    case _ => false
  }

  def deleteRecursively(f: java.io.File): Unit = {
    // Never recurse THROUGH a symlink: listFiles() resolves links, so recursing would
    // delete the link target's contents (potentially outside the intended tree).
    // Deleting the link itself is safe and sufficient.
    if (!java.nio.file.Files.isSymbolicLink(f.toPath))
      Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete(): Unit
  }
}

/** Backtick-quote an identifier for string-built SQL expressions (embedded backticks
  * escaped by doubling) — every `expr(s"fn(\`$column\`)")` site must go through this
  * or a column legally named "a`b" breaks the parsed expression.
  */
private[graft] object SqlIdent {
  def apply(c: String): String = "`" + c.replace("`", "``") + "`"
}

/** The ONE JSON string escaper (backslash, quote, all control chars < 0x20) — shared
  * by the report formatter and the Verify oracle dump so the two cannot drift.
  */
private[graft] object JsonStr {
  def quote(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
