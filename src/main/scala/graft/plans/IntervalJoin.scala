package graft.plans

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.{Inner, JoinType, LeftOuter}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, Join, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan}
import org.apache.spark.sql.types.{DataType, Decimal}

/** Interval (range) join as a first-class operator — logical plan +
  * optimizer rule + planner strategy + physical exec, the full custom-
  * operator stack, registered on every engine session by
  * [[graft.core.GraftExtensions]].
  *
  * Why: open-source Spark plans `fact JOIN dim ON p >= lo AND p < hi`
  * as BroadcastNestedLoopJoin — every probe row scans every interval,
  * O(|fact| x |dim|). This operator builds a lo-sorted interval index
  * with a prefix-max-hi array from the (small, broadcast) dim side and
  * answers each probe in O(log |dim| + matches): binary-search the
  * rightmost lo <= p, then walk left only while some interval can
  * still contain p. The fact side never shuffles or sorts — the probe
  * stays partition-local — so at 100 TB x 10k intervals this is the
  * difference between one pass over the fact table and 10,000.
  *
  * Reference analog: age binning and zip->state range lookup
  * (`app3/live_counts.py:52-61`, `Explorativa1_pyspark.ipynb:230-249`)
  * — both tiny dims here, but the operator is what makes the same
  * query shape survive a dim with thousands of ranges.
  */
object IntervalJoin {

  /** Marker logical node produced by [[RewriteRule]]. `broadcastDim`
    * selects the physical shape: driver-collected broadcast index
    * ([[IntervalJoinExec]]) vs range-partitioned per-task indexes
    * ([[RangeIntervalJoinExec]]) for dims too large to broadcast.
    */
  final case class IntervalJoinPlan(
      left: LogicalPlan, right: LogicalPlan,
      probe: Expression, lo: Attribute, hi: Attribute,
      loStrict: Boolean, hiStrict: Boolean,
      joinType: JoinType, broadcastDim: Boolean)
    extends BinaryNode {
    override def output: Seq[Attribute] = joinType match {
      case LeftOuter => left.output ++ right.output.map(_.withNullability(true))
      case _ => left.output ++ right.output
    }
    override protected def withNewChildrenInternal(
        newLeft: LogicalPlan, newRight: LogicalPlan): IntervalJoinPlan =
      copy(left = newLeft, right = newRight)
  }

  /** Rewrites a qualifying Join into [[IntervalJoinPlan]]. Conservative
    * match: inner/left-outer, condition is EXACTLY a lower and an upper
    * bound on the same fact-side expression against two dim-side
    * attributes, all three the same type, and the dim side carries an
    * explicit size promise from the user:
    *
    *  - `broadcast(dim)` → the index lives on every task (same
    *    contract as Spark's broadcast hint);
    *  - `dim.hint("merge")` → the range-partitioned path for interval
    *    sets that do NOT fit one executor. The MERGE hint is Spark's
    *    "shuffle-and-sort both sides" promise; for a pure range
    *    predicate stock Spark cannot honor it (no equi-keys — it falls
    *    back to BNLJ), so this rule gives the hint its natural
    *    interval-join meaning.
    */
  object RewriteRule extends Rule[LogicalPlan] {
    // AtomicType only: the exec orders runtime values with Catalyst's
    // interpreted ordering, and non-scalar orderable types (array/
    // struct) as well as exotic equal-but-distinct cases are exactly
    // where a silent rewrite could diverge from the stock join. Those
    // fall through to Spark's own BroadcastNestedLoopJoin.
    private def sameType(a: DataType, b: DataType): Boolean =
      a == b && org.apache.spark.sql.graftbridge.ColumnBridge.isAtomic(a)

    override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
      case j @ Join(l, r, jt @ (Inner | LeftOuter), Some(cond), hint)
          if hint.rightHint.exists(_.strategy.exists(s =>
            s == org.apache.spark.sql.catalyst.plans.logical.BROADCAST ||
              s == org.apache.spark.sql.catalyst.plans.logical.SHUFFLE_MERGE)) =>
        val bcast = hint.rightHint.exists(_.strategy.exists(
          _ == org.apache.spark.sql.catalyst.plans.logical.BROADCAST))
        val conjuncts = splitConjuncts(cond)
        matchBounds(conjuncts, l, r) match {
          case Some((probe, lo, hi, loStrict, hiStrict))
              if sameType(probe.dataType, lo.dataType) &&
                sameType(probe.dataType, hi.dataType) =>
            IntervalJoinPlan(l, r, probe, lo, hi, loStrict, hiStrict, jt,
              broadcastDim = bcast)
          case _ => j
        }
    }

    private def splitConjuncts(e: Expression): Seq[Expression] = e match {
      case And(a, b) => splitConjuncts(a) ++ splitConjuncts(b)
      case other => Seq(other)
    }

    /** Orients two comparison conjuncts into (probe, lo, hi, strictness).
      * probe must reference only the left plan; lo/hi must be right-side
      * attributes.
      */
    private def matchBounds(cs: Seq[Expression], l: LogicalPlan,
        r: LogicalPlan): Option[(Expression, Attribute, Attribute, Boolean, Boolean)] = {
      if (cs.length != 2) return None
      def fromLeft(e: Expression) = e.references.subsetOf(l.outputSet) &&
        e.references.nonEmpty && e.deterministic
      def rightAttr(e: Expression): Option[Attribute] = e match {
        case a: Attribute if r.outputSet.contains(a) => Some(a)
        case _ => None
      }
      // normalize each conjunct to (probe op bound) with op in {>=, >, <, <=}
      case class Bound(probe: Expression, attr: Attribute,
          isLower: Boolean, strict: Boolean)
      def norm(e: Expression): Option[Bound] = e match {
        case GreaterThanOrEqual(p, b) if fromLeft(p) =>
          rightAttr(b).map(Bound(p, _, isLower = true, strict = false))
        case GreaterThan(p, b) if fromLeft(p) =>
          rightAttr(b).map(Bound(p, _, isLower = true, strict = true))
        case LessThan(p, b) if fromLeft(p) =>
          rightAttr(b).map(Bound(p, _, isLower = false, strict = true))
        case LessThanOrEqual(p, b) if fromLeft(p) =>
          rightAttr(b).map(Bound(p, _, isLower = false, strict = false))
        // reversed orientations: lo <= p, hi > p, ...
        case LessThanOrEqual(b, p) if fromLeft(p) =>
          rightAttr(b).map(Bound(p, _, isLower = true, strict = false))
        case LessThan(b, p) if fromLeft(p) =>
          rightAttr(b).map(Bound(p, _, isLower = true, strict = true))
        case GreaterThan(b, p) if fromLeft(p) =>
          rightAttr(b).map(Bound(p, _, isLower = false, strict = true))
        case GreaterThanOrEqual(b, p) if fromLeft(p) =>
          rightAttr(b).map(Bound(p, _, isLower = false, strict = false))
        case _ => None
      }
      (norm(cs(0)), norm(cs(1))) match {
        case (Some(a), Some(b))
            if a.isLower != b.isLower && a.probe.semanticEquals(b.probe) =>
          val (loB, hiB) = if (a.isLower) (a, b) else (b, a)
          Some((loB.probe, loB.attr, hiB.attr, loB.strict, hiB.strict))
        case _ => None
      }
    }
  }

  /** Plans [[IntervalJoinPlan]] as the broadcast-index or
    * range-partitioned exec per the logical node's `broadcastDim`.
    */
  object JoinStrategy extends org.apache.spark.sql.execution.SparkStrategy {
    override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case IntervalJoinPlan(l, r, probe, lo, hi, loS, hiS, jt, true) =>
        IntervalJoinExec(probe, lo, hi, loS, hiS, jt,
          planLater(l), planLater(r)) :: Nil
      case IntervalJoinPlan(l, r, probe, lo, hi, loS, hiS, jt, false) =>
        RangeIntervalJoinExec(probe, lo, hi, loS, hiS, jt,
          planLater(l), planLater(r)) :: Nil
      case _ => Nil
    }
  }

  /** Shared per-task interval index: intervals sorted by lo with a
    * prefix running-max of hi. Lookup binary-searches the rightmost
    * admissible lo, then walks left only while the prefix max-hi can
    * still cover the probe — O(log n + matches) per probe.
    */
  private[plans] final class IntervalIndex(
      los: Array[Any], his: Array[Any], rows: Array[InternalRow],
      maxHi: Array[Any], cmp: (Any, Any) => Int,
      loStrict: Boolean, hiStrict: Boolean) extends Serializable {
    def isEmpty: Boolean = los.length == 0
    def lookup(p: Any): Iterator[InternalRow] = {
      if (los.length == 0) return Iterator.empty
      var leftB = 0; var rightB = los.length - 1; var pos = -1
      while (leftB <= rightB) {
        val mid = (leftB + rightB) >>> 1
        val c = cmp(los(mid), p)
        val ok = if (loStrict) c < 0 else c <= 0
        if (ok) { pos = mid; leftB = mid + 1 } else rightB = mid - 1
      }
      if (pos < 0) return Iterator.empty
      val buf = ArrayBuffer.empty[InternalRow]
      var k = pos
      var continue = true
      while (k >= 0 && continue) {
        // no interval at or before k can reach p: stop
        val reach = cmp(maxHi(k), p)
        if (if (hiStrict) reach <= 0 else reach < 0) continue = false
        else {
          val c = cmp(his(k), p)
          if (if (hiStrict) c > 0 else c >= 0) buf += rows(k)
          k -= 1
        }
      }
      buf.iterator
    }
  }

  private[plans] object IntervalIndex {
    /** rows must already be safe to retain (copied/collected). */
    def build(dim: Iterator[InternalRow], loB: Expression, hiB: Expression,
        cmp: (Any, Any) => Int, loStrict: Boolean, hiStrict: Boolean)
        : IntervalIndex = {
      val triples = dim
        .map(r => (loB.eval(r), hiB.eval(r), r))
        .filter(t => t._1 != null && t._2 != null)
        .toArray
        .sortWith((x, y) => cmp(x._1, y._1) < 0)
      val los = triples.map(_._1)
      val his = triples.map(_._2)
      val rows = triples.map(_._3)
      val maxHi = new Array[Any](triples.length)
      var running: Any = null
      var i = 0
      while (i < triples.length) {
        if (running == null || cmp(his(i), running) > 0) running = his(i)
        maxHi(i) = running
        i += 1
      }
      new IntervalIndex(los, his, rows, maxHi, cmp, loStrict, hiStrict)
    }

    /** Probe-side join loop shared by both execs. `output` must be the
      * exec's output (right side nullability-adjusted for LeftOuter):
      * binding the projection against child attrs would declare the
      * null-row fields non-nullable and codegen would read them as 0.
      */
    def joinIterator(iter: Iterator[InternalRow], probeE: Expression,
        idx: IntervalIndex, isOuter: Boolean, rightWidth: Int,
        output: Seq[Attribute]): Iterator[InternalRow] = {
      val joined = new JoinedRow
      val proj = UnsafeProjection.create(output, output)
      val nullRight = new GenericInternalRow(rightWidth)
      iter.flatMap { lrow =>
        val p = probeE.eval(lrow)
        val ms = if (p == null) Iterator.empty else idx.lookup(p)
        if (ms.hasNext) ms.map(r => proj(joined(lrow, r)))
        else if (isOuter) Iterator.single(proj(joined(lrow, nullRight)))
        else Iterator.empty
      }
    }
  }

  /** Physical interval join: dim side collected once, sorted by lo,
    * augmented with a running max of hi; probes binary-search lo and
    * walk left while the prefix max-hi can still cover the probe.
    */
  final case class IntervalJoinExec(
      probe: Expression, lo: Attribute, hi: Attribute,
      loStrict: Boolean, hiStrict: Boolean, joinType: JoinType,
      left: SparkPlan, right: SparkPlan)
    extends BinaryExecNode {

    override def output: Seq[Attribute] = joinType match {
      case LeftOuter => left.output ++ right.output.map(_.withNullability(true))
      case _ => left.output ++ right.output
    }

    override protected def doExecute(): RDD[InternalRow] = {
      // Catalyst's interpreted ordering, NOT Comparable.compareTo: for
      // doubles Spark's >=/< compare -0.0 == 0.0 (SQLOrderingUtil)
      // where Double.compareTo orders them, and the same instance
      // covers every atomic type the rule admits. Local val so task
      // closures never capture the SparkPlan.
      val ord = org.apache.spark.sql.catalyst.util.TypeUtils
        .getInterpretedOrdering(probe.dataType)
      val cmp: (Any, Any) => Int = (a, b) => ord.compare(a, b)
      val loBound = BindReferences.bindReference(lo: Expression, right.output)
      val hiBound = BindReferences.bindReference(hi: Expression, right.output)
      val bcIndex = sparkContext.broadcast(IntervalIndex.build(
        right.executeCollect().iterator, loBound, hiBound, cmp, loStrict,
        hiStrict))
      val isOuter = joinType == LeftOuter
      val rightWidth = right.output.size
      val probeExpr = BindReferences.bindReference(probe, left.output)
      val out = output

      left.execute().mapPartitions { iter =>
        IntervalIndex.joinIterator(iter, probeExpr, bcIndex.value, isOuter,
          rightWidth, out)
      }
    }

    override protected def withNewChildrenInternal(
        newLeft: SparkPlan, newRight: SparkPlan): IntervalJoinExec =
      copy(left = newLeft, right = newRight)
  }

  /** Range-partitioned interval join — the non-broadcast path for
    * interval sets too large for one executor's memory.
    *
    * Shape: sample the dim's `lo` values (seeded per-partition
    * reservoirs) into P-1 range boundaries over the probe domain;
    * range-partition the FACT side by probe value (each fact row to
    * exactly one bucket — left-outer semantics stay local) and the DIM
    * side by span (each interval replicated to every bucket its
    * [lo, hi] overlaps); then build the same lo-sorted prefix-max-hi
    * index per bucket and probe locally. Per-task memory is
    * O(|dim| / P + replication), not O(|dim|); no driver collect of
    * the dim; the fact side shuffles ONCE and never sorts.
    *
    * The dim subtree is evaluated twice (boundary sample + shuffle) —
    * the side promised-large-but-smaller-than-the-fact; the fact
    * subtree runs once.
    */
  final case class RangeIntervalJoinExec(
      probe: Expression, lo: Attribute, hi: Attribute,
      loStrict: Boolean, hiStrict: Boolean, joinType: JoinType,
      left: SparkPlan, right: SparkPlan)
    extends BinaryExecNode {

    override def output: Seq[Attribute] = joinType match {
      case LeftOuter => left.output ++ right.output.map(_.withNullability(true))
      case _ => left.output ++ right.output
    }

    private def copyVal(v: Any): Any = v match {
      case s: org.apache.spark.unsafe.types.UTF8String => s.clone()
      case d: org.apache.spark.sql.types.Decimal =>
        Decimal(d.toJavaBigDecimal)
      case other => other
    }

    override protected def doExecute(): RDD[InternalRow] = {
      val ord = org.apache.spark.sql.catalyst.util.TypeUtils
        .getInterpretedOrdering(probe.dataType)
      val cmp: (Any, Any) => Int = (a, b) => ord.compare(a, b)
      val loBound = BindReferences.bindReference(lo: Expression, right.output)
      val hiBound = BindReferences.bindReference(hi: Expression, right.output)
      val probeExpr = BindReferences.bindReference(probe, left.output)
      val isOuter = joinType == LeftOuter
      val rightWidth = right.output.size
      val out = output
      val loStrictL = loStrict
      val hiStrictL = hiStrict
      val copyV: Any => Any = copyVal

      // 1. seeded per-partition reservoir sample of dim lo values →
      //    P-1 quantile boundaries (deterministic across runs)
      val targetP = math.max(1, conf.numShufflePartitions)
      val perPartCap = math.max(20, 2 * targetP)
      val sampled = right.execute().mapPartitionsWithIndex { (pid, it) =>
        val rng = new java.util.Random(0x9E3779B9L * (pid + 1))
        val buf = new ArrayBuffer[Any](perPartCap)
        var seen = 0L
        it.foreach { r =>
          val v = loBound.eval(r)
          if (v != null) {
            seen += 1
            if (buf.length < perPartCap) buf += copyV(v)
            else {
              val j = (rng.nextDouble() * seen).toLong
              if (j < perPartCap) buf(j.toInt) = copyV(v)
            }
          }
        }
        buf.iterator
      }.collect().sortWith(cmp(_, _) < 0)
      val boundaries: Array[Any] =
        if (sampled.isEmpty) Array.empty
        else (1 until targetP).map { i =>
          sampled(math.min(sampled.length - 1,
            i * sampled.length / targetP))
        }.toArray.distinct
      val numParts = boundaries.length + 1

      // bucket i covers p <= boundaries(i); last bucket is unbounded
      def bucketOf(p: Any): Int = {
        var loB = 0; var hiB = boundaries.length - 1; var res = boundaries.length
        while (loB <= hiB) {
          val mid = (loB + hiB) >>> 1
          if (cmp(p, boundaries(mid)) <= 0) { res = mid; hiB = mid - 1 }
          else loB = mid + 1
        }
        res
      }
      val bucketFn: Any => Int = bucketOf

      val part = new org.apache.spark.Partitioner {
        override def numPartitions: Int = numParts
        override def getPartition(key: Any): Int = key.asInstanceOf[Int]
      }
      val leftKeyed = left.execute().mapPartitions { it =>
        it.map { row =>
          val p = probeExpr.eval(row)
          (if (p == null) 0 else bucketFn(p)) -> row.copy()
        }
      }
      val rightKeyed = right.execute().mapPartitions { it =>
        it.flatMap { row =>
          val l = loBound.eval(row)
          val h = hiBound.eval(row)
          if (l == null || h == null) Iterator.empty
          else {
            val c = row.copy()
            (bucketFn(l) to bucketFn(h)).iterator.map(b => b -> c)
          }
        }
      }
      leftKeyed.partitionBy(part).zipPartitions(
          rightKeyed.partitionBy(part)) { (lit, rit) =>
        val idx = IntervalIndex.build(rit.map(_._2), loBound, hiBound, cmp,
          loStrictL, hiStrictL)
        IntervalIndex.joinIterator(lit.map(_._2), probeExpr, idx, isOuter,
          rightWidth, out)
      }
    }

    override protected def withNewChildrenInternal(
        newLeft: SparkPlan, newRight: SparkPlan): RangeIntervalJoinExec =
      copy(left = newLeft, right = newRight)
  }
}

/** Catalog query driving [[IntervalJoin]] on testdata. */
object IntervalJoinQueries {
  import org.apache.spark.sql.{DataFrame, functions => F}
  import graft.core.Tables

  /** Orders binned into 2,000 price intervals via the custom operator
    * (the dim is wide enough that the stock BroadcastNestedLoopJoin
    * does 2,000 comparisons per order where the index does ~11).
    * Interval bounds are exact multiples of 300, so Spark and DuckDB
    * agree bit-for-bit on the double comparisons.
    */
  def q31IntervalJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val step = 300.0
    val dim = spark.range(0, 2000).select(
      F.col("id").as("bin"),
      (F.col("id") * step).cast("double").as("lo"),
      ((F.col("id") + 1) * step).cast("double").as("hi"))
    val o = Tables.orders(spark, sfDir)
    o.join(F.broadcast(dim),
        o("o_totalprice") >= dim("lo") && o("o_totalprice") < dim("hi"))
      .groupBy("bin")
      .agg(F.count(F.lit(1)).as("n"),
        F.round(F.sum("o_totalprice"), 2).as("sum_price"))
      .orderBy("bin")
  }

  val q31Sql: String =
    """SELECT bin, count(*) AS n, round(sum(o_totalprice), 2) AS sum_price
      |FROM orders JOIN (
      |  SELECT i AS bin, i * 300.0 AS lo, (i + 1) * 300.0 AS hi
      |  FROM generate_series(0, 1999) AS t(i)) dim
      |  ON o_totalprice >= lo AND o_totalprice < hi
      |GROUP BY bin
      |ORDER BY bin""".stripMargin

  /** Same bin-aggregate shape through [[IntervalJoin.RangeIntervalJoinExec]]:
    * 20,000 intervals under the MERGE hint — the dim never touches the
    * driver, both sides range-partition on the price domain, and each
    * task indexes only its bucket's intervals. The path that keeps this
    * query shape alive when the interval set itself is a large table.
    */
  def q55RangeIntervalJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val step = 30.0
    val dim = spark.range(0, 20000).select(
      F.col("id").as("bin"),
      (F.col("id") * step).cast("double").as("lo"),
      ((F.col("id") + 1) * step).cast("double").as("hi"))
    val o = Tables.orders(spark, sfDir)
    o.join(dim.hint("merge"),
        o("o_totalprice") >= dim("lo") && o("o_totalprice") < dim("hi"))
      .groupBy("bin")
      .agg(F.count(F.lit(1)).as("n"),
        F.round(F.sum("o_totalprice"), 2).as("sum_price"))
      .orderBy("bin")
  }

  val q55Sql: String =
    """SELECT bin, count(*) AS n, round(sum(o_totalprice), 2) AS sum_price
      |FROM orders JOIN (
      |  SELECT i AS bin, i * 30.0 AS lo, (i + 1) * 30.0 AS hi
      |  FROM generate_series(0, 19999) AS t(i)) dim
      |  ON o_totalprice >= lo AND o_totalprice < hi
      |GROUP BY bin
      |ORDER BY bin""".stripMargin

  val catalog: Seq[(String, (SparkSession, String) => DataFrame, String)] =
    Seq(
      ("q31_interval_join", q31IntervalJoin _, q31Sql),
      ("q55_range_interval_join", q55RangeIntervalJoin _, q55Sql))
}
