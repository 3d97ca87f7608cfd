package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, BindReferences, BoundReference, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._

/** The whole-operator custom-Catalyst path (SURVEY §7.2 option (c)): a
  * native point-in-time (as-of) join as a logical node + planner
  * strategy + physical operator; the builder installs the strategy into
  * the caller's session ([[GraftExtensions.ensure]]).
  *
  * Semantics (pinned against the union+window reference form
  * `KernelRefs.asOfJoin` in the specs, and gated by the DuckDB oracle
  * of `events_asof`): for each left row,
  * the single right row with the greatest (time, tie) such that
  * `rightTime <= leftTime` on the same (multi-column) key. Left-outer by
  * default — unmatched left rows keep NULL right fields; the inner
  * variant drops them. NULL semantics follow SQL equi-joins: a NULL in
  * any key component never matches.
  *
  * Physical shape: both sides hash-cluster on the key columns and sort
  * within partitions by (keys, time[, tie]) — which EnsureRequirements
  * provides exactly like a sort-merge join — then ONE streaming merge
  * pass per partition matches every left row in O(|L|+|R|) with O(1)
  * state (the last candidate row). Versus the union+window formulation
  * this skips materializing the unioned frame and the window buffer;
  * versus what Catalyst would do unaided (a `<=` condition plans as a
  * broadcast nested-loop, O(|L|·|R|) per key) it is the difference
  * between feasible and not at 100 TB.
  *
  * Row handling: key/time comparisons go through UNBOXED ordinal
  * accessors specialized per data type (`getLong`/`getInt`/
  * `getUTF8String` on the InternalRow) — no per-row boxing or
  * interpreted `Expression.eval` on the hot path; types outside the
  * specialized set fall back to bound-reference eval with an
  * interpreted ordering. Full whole-stage codegen of the merge would be
  * the next step; the scan, exchange and sort dominate at the data
  * rates involved (measured: the merge is < 15% of the stage).
  */
case class AsOfJoinNode(
    left: LogicalPlan, right: LogicalPlan,
    lKeys: Seq[Attribute], rKeys: Seq[Attribute],
    lTime: Attribute, rTime: Attribute, rTie: Attribute,
    isInner: Boolean) extends BinaryNode {
  override def output: Seq[Attribute] =
    if (isInner) left.output ++ right.output
    else left.output ++ right.output.map(_.withNullability(true))
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinNode =
    copy(left = newLeft, right = newRight)
}

/** Plans [[AsOfJoinNode]] to [[AsOfJoinExec]]; prepended to the
  * session's `extraStrategies` by [[GraftExtensions.ensure]]. */
object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinNode(l, r, lks, rks, lt, rt, rtie, inner) =>
      AsOfJoinExec(lks, rks, lt, rt, rtie, inner, planLater(l), planLater(r)) :: Nil
    case _ => Nil
  }
}

case class AsOfJoinExec(
    lKeys: Seq[Attribute], rKeys: Seq[Attribute],
    lTime: Attribute, rTime: Attribute, rTie: Attribute,
    isInner: Boolean,
    left: SparkPlan, right: SparkPlan) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    if (isInner) left.output ++ right.output
    else left.output ++ right.output.map(_.withNullability(true))

  override def outputPartitioning: Partitioning = left.outputPartitioning

  /** Hash-cluster both sides on the key columns — EnsureRequirements
    * inserts the two exchanges (or reuses existing compatible
    * partitioning, e.g. a bucketed table) and co-partitions them,
    * exactly as for SMJ. */
  override def requiredChildDistribution: Seq[Distribution] =
    Seq(ClusteredDistribution(lKeys), ClusteredDistribution(rKeys))

  /** Left: (keys, time). Right: (keys, time, tie) so that the LAST right
    * row consumed for a (keys, time) group is the max-tie one — the
    * documented tie rule falls out of the sort order, costing nothing
    * in the merge itself. Ascending = nulls first on both sides, which
    * keeps the merge's null handling monotone. */
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    lKeys.map(SortOrder(_, Ascending)) :+ SortOrder(lTime, Ascending),
    rKeys.map(SortOrder(_, Ascending)) ++
      Seq(SortOrder(rTime, Ascending), SortOrder(rTie, Ascending)))

  protected override def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)

  private def ordinalOf(a: Attribute, schema: Seq[Attribute]): Int =
    BindReferences.bindReference[org.apache.spark.sql.catalyst.expressions.Expression](a, schema)
      .asInstanceOf[BoundReference].ordinal

  /** Unboxed per-component comparator over (leftRow, rightRow) at fixed
    * ordinals. The specialized arms read primitive slots straight off
    * the InternalRow — no boxing, no eval. Caller handles nulls. */
  private def valueCmp(dt: DataType, lo: Int, ro: Int): (InternalRow, InternalRow) => Int =
    dt match {
      case LongType | TimestampType | TimestampNTZType =>
        (l, r) => java.lang.Long.compare(l.getLong(lo), r.getLong(ro))
      case IntegerType | DateType =>
        (l, r) => java.lang.Integer.compare(l.getInt(lo), r.getInt(ro))
      case ShortType => (l, r) => java.lang.Short.compare(l.getShort(lo), r.getShort(ro))
      case ByteType => (l, r) => java.lang.Byte.compare(l.getByte(lo), r.getByte(ro))
      case BooleanType => (l, r) => java.lang.Boolean.compare(l.getBoolean(lo), r.getBoolean(ro))
      case DoubleType => (l, r) => java.lang.Double.compare(l.getDouble(lo), r.getDouble(ro))
      case FloatType => (l, r) => java.lang.Float.compare(l.getFloat(lo), r.getFloat(ro))
      case StringType =>
        (l, r) => l.getUTF8String(lo).compareTo(r.getUTF8String(ro))
      case other =>
        val ord = TypeUtils.getInterpretedOrdering(other)
        (l, r) => ord.compare(l.get(lo, other), r.get(ro, other))
    }

  protected override def doExecute(): RDD[InternalRow] = {
    val lKeyOrds = lKeys.map(ordinalOf(_, left.output)).toArray
    val rKeyOrds = rKeys.map(ordinalOf(_, right.output)).toArray
    val cmps = lKeys.indices.map(i =>
      valueCmp(lKeys(i).dataType, lKeyOrds(i), rKeyOrds(i))).toArray
    val lTimeOrd = ordinalOf(lTime, left.output)
    val rTimeOrd = ordinalOf(rTime, right.output)
    val nKeys = lKeyOrds.length
    val nRight = right.output.length
    val inner = isInner
    val outAttrs = output
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      new Iterator[InternalRow] {
        private val joined = new JoinedRow
        // downstream operators (codegen, exchanges) require UnsafeRow;
        // the projection also snaps the JoinedRow view into a stable row
        private val toUnsafe = UnsafeProjection.create(outAttrs, outAttrs)
        private val nullRight = new GenericInternalRow(nRight)
        private var rRow: InternalRow = advanceRight()
        // the best candidate so far: the last right row seen with
        // rTime <= current left time on this key (right sort order makes
        // "last seen" = "max (time, tie)"); rows are copied out of the
        // iterator because Spark reuses the underlying UnsafeRow buffer
        private var cand: InternalRow = null
        // lookahead slot: the inner variant must skip unmatched left rows
        private var ready: InternalRow = null
        private def advanceRight(): InternalRow =
          if (rIter.hasNext) rIter.next() else null

        /** Merge ordering of l's key vs r's key, nulls FIRST (matching
          * the Ascending child ordering); 0 can include null==null. */
        private def cmpKeys(l: InternalRow, r: InternalRow): Int = {
          var i = 0
          while (i < nKeys) {
            val ln = l.isNullAt(lKeyOrds(i)); val rn = r.isNullAt(rKeyOrds(i))
            if (ln || rn) {
              if (!rn) return -1
              if (!ln) return 1
              // both null: equal POSITION in the sort, but never a match
            } else {
              val c = cmps(i)(l, r)
              if (c != 0) return c
            }
            i += 1
          }
          0
        }
        /** SQL equi-match: every component non-null and equal. */
        private def keysMatch(l: InternalRow, r: InternalRow): Boolean = {
          var i = 0
          while (i < nKeys) {
            if (l.isNullAt(lKeyOrds(i)) || r.isNullAt(rKeyOrds(i))) return false
            if (cmps(i)(l, r) != 0) return false
            i += 1
          }
          true
        }

        private def computeNext(): InternalRow = {
          while (lIter.hasNext) {
            val l = lIter.next()
            val lt = if (l.isNullAt(lTimeOrd)) Long.MinValue else l.getLong(lTimeOrd)
            var scanning = true
            while (scanning && rRow != null) {
              val cmp = cmpKeys(l, rRow)
              if (cmp > 0) {
                // keys sorted on both sides: a right key below the
                // current left key can never match again — discard
                rRow = advanceRight()
              } else if (cmp == 0) {
                if (!keysMatch(l, rRow)) {
                  // equal sort position but a null component: this right
                  // row can never equi-match anything — discard
                  rRow = advanceRight()
                } else if (rRow.isNullAt(rTimeOrd)) {
                  rRow = advanceRight()
                } else if (rRow.getLong(rTimeOrd) <= lt) {
                  cand = rRow.copy()
                  rRow = advanceRight()
                } else scanning = false
              } else scanning = false
            }
            if (cand != null && keysMatch(l, cand))
              return toUnsafe(joined(l, cand))
            else if (!inner)
              return toUnsafe(joined(l, nullRight))
            // inner: fall through and pull the next left row
          }
          null
        }
        override def hasNext: Boolean = {
          if (ready == null) ready = computeNext()
          ready != null
        }
        override def next(): InternalRow = {
          if (!hasNext) throw new NoSuchElementException("empty iterator")
          val out = ready; ready = null; out
        }
      }
    }
  }
}

/** DataFrame-level entry point for the native operator. */
object AsOfJoin {
  /** Native as-of join of `left` against `right` on a composite
    * equi-key. Column names across the two sides must be disjoint
    * (rename before joining — the output is left.columns ++
    * right.columns). `rightTie` breaks timestamp ties (greatest wins)
    * and must be integral: a string id would order "9" above "10".
    * `inner = false` keeps unmatched left rows with NULL right fields
    * (the default, matching the composed form); `inner = true` drops
    * them. Right-side attributes are re-aliased to fresh expression ids
    * so self-joins (both sides carved from one scan) are safe. */
  def apply(left: DataFrame, right: DataFrame,
            leftKeys: Seq[String], rightKeys: Seq[String],
            leftTime: String, rightTime: String, rightTie: String,
            inner: Boolean): DataFrame = {
    require(leftKeys.nonEmpty && leftKeys.length == rightKeys.length,
      s"asOf needs matching non-empty key lists, got $leftKeys vs $rightKeys")
    val dup = left.columns.toSet.intersect(right.columns.toSet)
    require(dup.isEmpty, s"asOf sides must not share column names, got $dup")
    val r = right.select(right.columns.map(c => col(c).as(c)).toSeq: _*)
    val lPlan = left.queryExecution.analyzed
    val rPlan = r.queryExecution.analyzed
    def attr(p: LogicalPlan, n: String): Attribute =
      p.output.find(_.name == n).getOrElse(
        sys.error(s"asOf: column '$n' not found in [${p.output.map(_.name).mkString(", ")}]"))
    def requireTime(a: Attribute): Attribute = {
      require(a.dataType == TimestampType || a.dataType == LongType,
        s"asOf time column '${a.name}' must be timestamp or long, got ${a.dataType}")
      a
    }
    def requireTie(a: Attribute): Attribute = {
      require(Seq(ByteType, ShortType, IntegerType, LongType).contains(a.dataType),
        s"asOf tie column '${a.name}' must be an integral type, got ${a.dataType}")
      a
    }
    val lks = leftKeys.map(attr(lPlan, _))
    val rks = rightKeys.map(attr(rPlan, _))
    lks.zip(rks).foreach { case (a, b) =>
      require(a.dataType == b.dataType,
        s"asOf key types must align: ${a.name}:${a.dataType} vs ${b.name}:${b.dataType}")
    }
    GraftExtensions.ensure(left.sparkSession)
    Bridge.ofRows(left.sparkSession, AsOfJoinNode(lPlan, rPlan, lks, rks,
      requireTime(attr(lPlan, leftTime)), requireTime(attr(rPlan, rightTime)),
      requireTie(attr(rPlan, rightTie)), inner))
  }

  /** Single-key left-outer form (the original operator surface). */
  def apply(left: DataFrame, right: DataFrame, leftKey: String, rightKey: String,
            leftTime: String, rightTime: String, rightTie: String): DataFrame =
    apply(left, right, Seq(leftKey), Seq(rightKey), leftTime, rightTime,
      rightTie, inner = false)
}
