package graft.core

import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge}
import org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression

import scala.collection.mutable
import scala.util.{Failure, Success, Try}
import scala.util.control.NonFatal

/** The one rule for batching global aggregates into `df.agg` scans, shared by suites
  * ([[ValidationSuite.evaluateBatched]]), analyzers (`AnalysisRunner`) and the profiler
  * (`ColumnProfiler`) — the reference keeps the same decision in one module
  * (optimizer/combiner.rs:170-230). Callers hand it an ordered list of owners (a
  * constraint, an analyzer, a profiled column), each with its aggregate columns, and get
  * back each owner's values, positionally matching its columns, or that owner's own error.
  *
  *  - Dedup: equal aggregates across owners (every owner's `count(*)`) are computed once
  *    per scan, keyed by the CANONICALIZED catalyst expression, converted once per column.
  *    `Column.toString` is not injective (two different unnamed UDFs render identically),
  *    and a false merge would hand one owner another's value; a missed dedup only costs a
  *    redundant slot.
  *  - At most two scans: owners with any exact DISTINCT aggregate form one group, the
  *    rest another. Fused, Spark groups the whole scan by the distinct key and carries
  *    every other aggregate's buffer per key (one percentile_approx sketch per order key):
  *    `count`, `avg`, `countDistinct` and `percentile_approx` over 60k rows took
  *    34.6–35.5 s fused against 0.23–0.35 s as two concurrent scans (`local[4]` on 4
  *    cores). Several distinct keys share the DISTINCT scan (Spark expands the rows once
  *    per key set). The caller decides how to run the [[groups]]: concurrently or inline.
  *  - Chunking: a group runs as `df.agg` jobs of at most [[MaxAggsPerJob]] distinct slots,
  *    split on owner boundaries. One owner's aggregates always come from one job, so it
  *    sees one data snapshot: rows arriving between two scans can never hand it a
  *    `count(col)` above its `count(*)`. An owner wider than the bound runs alone —
  *    atomicity outranks the codegen-size heuristic.
  *  - Failure isolation: when a job fails, each of its owners is probed ANALYSIS-ONLY
  *    (building `df.agg` analyzes eagerly and runs no job). A failing owner gets the
  *    probe's error; the healthy rest runs as one scan. Only if that scan fails at runtime
  *    does each owner run its own `df.agg(cols).head()` — what `Constraint.evaluate` and
  *    `Analyzer.computeState` do standalone. One mistake costs neither N scans nor the
  *    other owners' results.
  */
object SharedScan {

  /** Aggregate slots per physical job; chunking guards codegen limits on very wide inputs. */
  val MaxAggsPerJob = 200

  /** One owner's values, positionally matching its columns, or its own error. */
  type Result = Either[Throwable, Seq[Any]]

  /** An owner's columns with their canonical keys (a failure if any column does not
    * convert, e.g. unparsable SQL text: its job then fails and the probe reports it).
    */
  private final case class Owner(index: Int, cols: Seq[Column], keys: Try[Seq[Expression]])

  /** The independent scan groups over `owners`, the plain group first, then the DISTINCT
    * one. Running a group returns (owner index, result) for each owner it holds; owners
    * without columns are in no group.
    */
  def groups(df: DataFrame, owners: Seq[Seq[Column]]): Seq[() => Seq[(Int, Result)]] = {
    val converted = owners.zipWithIndex.collect { case (cols, i) if cols.nonEmpty =>
      val exprs = Try(cols.map(GraftSqlBridge.expressionEager))
      (Owner(i, cols, exprs.map(_.map(_.canonicalized))), exprs.toOption.exists(_.exists(isDistinct)))
    }
    val (distinct, plain) = converted.partition(_._2)
    Seq(plain, distinct).map(_.map(_._1)).filter(_.nonEmpty)
      .map(group => () => chunks(group).flatMap(runChunk(df, _)))
  }

  /** Runs every group inline: one result per owner, in order. */
  def run(df: DataFrame, owners: Seq[Seq[Column]]): Seq[Result] = {
    val byIndex = groups(df, owners).flatMap(_()).toMap
    owners.indices.map(i => byIndex.getOrElse(i, Right(Nil)))
  }

  private def isDistinct(e: Expression): Boolean = e.exists {
    case f: UnresolvedFunction => f.isDistinct
    case a: AggregateExpression => a.isDistinct
    case _ => false
  }

  /** Owners packed in order into chunks of at most [[MaxAggsPerJob]] distinct slots. */
  private def chunks(owners: Seq[Owner]): Seq[Seq[Owner]] = {
    val out = mutable.ArrayBuffer.empty[Seq[Owner]]
    var cur = Vector.empty[Owner]
    var slots = Set.empty[Expression]
    owners.foreach { o =>
      val keys = o.keys.getOrElse(Nil)
      if (cur.nonEmpty && (slots ++ keys).size > MaxAggsPerJob) {
        out += cur
        cur = Vector.empty
        slots = Set.empty
      }
      cur :+= o
      slots ++= keys
    }
    if (cur.nonEmpty) out += cur
    out.toSeq
  }

  /** One job over `owners`' deduplicated columns (throws on failure). */
  private def scan(df: DataFrame, owners: Seq[Owner]): Seq[(Int, Result)] = {
    val slots = mutable.LinkedHashMap.empty[Expression, Int]
    val cols = mutable.ArrayBuffer.empty[Column]
    val idxs = owners.map(o => o.keys.get.zip(o.cols).map { case (k, c) =>
      slots.getOrElseUpdate(k, { cols += c.as(s"s${cols.size}"); cols.size - 1 })
    })
    val row = df.agg(cols.head, cols.tail.toSeq: _*).head()
    owners.zip(idxs).map { case (o, is) => o.index -> Right(is.map(row.get)) }
  }

  private def runChunk(df: DataFrame, owners: Seq[Owner]): Seq[(Int, Result)] =
    try scan(df, owners)
    catch {
      // NonFatal only: answering an OutOfMemoryError or an interrupt with N more jobs
      // would only pile work on a dying cluster.
      case NonFatal(_) =>
        val probed = owners.map(o => o -> o.keys.flatMap(_ => Try(df.agg(o.cols.head, o.cols.tail: _*))))
        val bad = probed.collect { case (o, Failure(e)) => o.index -> Left(e) }
        val ok = probed.collect { case (o, Success(agg)) => (o, agg) }
        val okResults =
          if (ok.isEmpty) Nil
          else try scan(df, ok.map(_._1)) catch {
            case NonFatal(_) => ok.map { case (o, agg) => o.index -> Try(agg.head().toSeq).toEither }
          }
        bad ++ okResults
    }
}
