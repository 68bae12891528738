package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, AttributeSet, BindReferences, Expression, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.catalyst.util.{ArrayData, TypeUtils}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.types.{StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Which temporal match the as-of exec computes. */
sealed trait AsofJoinMode extends Serializable
object AsofJoinMode {
  /** Latest right row at-or-before (strict: strictly before) the left
    * row's time — the classic backward as-of.
    */
  case class Prior(strict: Boolean) extends AsofJoinMode
  /** Right row minimizing |t_right - t_left| within `tolerance` time
    * units, either direction; |delta| ties prefer the backward match
    * (state already known beats state from the future). Times must be
    * LongType (e.g. epoch micros) so every delta is exact.
    */
  case class Nearest(tolerance: Long) extends AsofJoinMode
}

/** Whole-operator as-of join: the custom
  * LogicalPlan → SparkStrategy → SparkPlan stack for the one temporal
  * operator Spark lacks natively (the composed union+window forms in
  * [[graft.operators.AsOf.joinPrior]]/[[graft.operators.AsOf.joinNearest]]
  * are brief-preference (a); this node is preference (c), carried
  * because the direct physical shape is skew-proof where the window
  * form is not):
  *
  *   - each side shuffles ONCE on its key and sorts (key, time) —
  *     `requiredChildDistribution` / `requiredChildOrdering` let
  *     EnsureRequirements place the exchanges, reuse existing
  *     partitionings, and AQE coalesce both sides together, exactly as
  *     for a SortMergeJoin;
  *   - the merge itself is a per-partition streaming scan holding ONE
  *     candidate payload row — the union+window form buffers every row
  *     of a key in the WindowExec frame array, so a hot key allocates
  *     (then spills) its whole history; measured 1.6x faster on a
  *     single-key 2M/8M-row corpus (SURVEY.md, as-of exec row) and
  *     O(1) memory;
  *   - the right side never widens to the left schema and vice versa:
  *     exchange bytes are each side's own rows, nothing more.
  *
  * Semantics (same contracts as [[graft.operators.AsOf.joinPrior]] /
  * [[graft.operators.AsOf.joinNearest]], pinned by AsofExecSpec's
  * equivalence properties), per [[AsofJoinMode]]: for each left row,
  * the payload of the matching right row with an equal key — the last
  * at-or-before (Prior) or the |delta|-closest within tolerance
  * (Nearest) — NULL struct when none. NULL keys and NULL times never
  * match (SQL equi-join semantics); right rows with NULL key or time
  * are ignored. Ties between right rows at the same (key, time)
  * resolve to the last row in sort order — pass a unique time (or
  * pre-dedup) for full determinism, as with the composed forms.
  */
case class AsofJoin(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKey: Attribute,
    rightKey: Attribute,
    leftTime: Attribute,
    rightTime: Attribute,
    payload: Seq[Attribute],
    mode: AsofJoinMode,
    outAttr: AttributeReference) extends BinaryNode {

  require(leftKey.dataType == rightKey.dataType,
    s"as-of key types differ: ${leftKey.dataType} vs ${rightKey.dataType}")
  require(leftTime.dataType == rightTime.dataType,
    s"as-of time types differ: ${leftTime.dataType} vs ${rightTime.dataType}")
  mode match {
    case AsofJoinMode.Nearest(tol) =>
      require(leftTime.dataType == org.apache.spark.sql.types.LongType,
        s"nearest as-of requires LongType times (exact deltas), got ${leftTime.dataType}")
      require(tol >= 0L, s"nearest as-of tolerance must be >= 0: $tol")
    case _ =>
  }

  override def output: Seq[Attribute] = left.output :+ outAttr

  /** `outAttr` is born here, not read from a child — without this the
    * analyzer reports it as a missing input.
    */
  override def producedAttributes: AttributeSet = AttributeSet(outAttr :: Nil)

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsofJoin =
    copy(left = newLeft, right = newRight)
}

object AsofJoin {
  /** The output struct attribute — created ONCE at construction so its
    * exprId stays stable across tree transforms.
    */
  def outAttrFor(name: String, payload: Seq[Attribute]): AttributeReference =
    AttributeReference(name,
      StructType(payload.map(a => StructField(a.name, a.dataType, a.nullable))),
      nullable = true)()
}

/** Plans [[AsofJoin]] to [[AsofJoinExec]]. Installed per session via
  * `experimental.extraStrategies` ([[graft.operators.AsOf.joinPriorMerge]]
  * does this idempotently) or `injectPlannerStrategy`.
  */
object AsofJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case j: AsofJoin =>
      AsofJoinExec(planLater(j.left), planLater(j.right),
        j.leftKey, j.rightKey, j.leftTime, j.rightTime,
        j.payload, j.mode, j.outAttr) :: Nil
    case _ => Nil
  }
}

case class AsofJoinExec(
    left: SparkPlan,
    right: SparkPlan,
    leftKey: Attribute,
    rightKey: Attribute,
    leftTime: Attribute,
    rightTime: Attribute,
    payload: Seq[Attribute],
    mode: AsofJoinMode,
    outAttr: AttributeReference) extends BinaryExecNode {

  override def output: Seq[Attribute] = left.output :+ outAttr

  override def producedAttributes: AttributeSet = AttributeSet(outAttr :: Nil)

  /** Both sides clustered on their key: EnsureRequirements makes the
    * two hash partitionings COMPATIBLE (same machinery as a
    * SortMergeJoin), so `zipPartitions` sees co-partitioned children.
    */
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(leftKey)) :: ClusteredDistribution(Seq(rightKey)) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending)),
    Seq(SortOrder(rightKey, Ascending), SortOrder(rightTime, Ascending)))

  /** Left rows pass through in order with a column appended — the
    * partitioning and ordering of the left child survive, so a
    * downstream groupBy(key) or window over the key reuses this
    * exchange instead of adding one.
    */
  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = left.outputOrdering

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsofJoinExec =
    copy(left = newLeft, right = newRight)

  protected override def doExecute(): RDD[InternalRow] = {
    val lOut = left.output
    val rOut = right.output
    val outAttrs = output
    val lKeyU: Expression = leftKey
    val rKeyU: Expression = rightKey
    val lTimeU: Expression = leftTime
    val rTimeU: Expression = rightTime
    val payloadL = payload
    val modeL = mode
    val keyOrd = TypeUtils.getInterpretedOrdering(leftKey.dataType)
    val timeOrd = TypeUtils.getInterpretedOrdering(leftTime.dataType)

    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lKeyE = BindReferences.bindReference(lKeyU, lOut)
      val lTimeE = BindReferences.bindReference(lTimeU, lOut)
      val rKeyE = BindReferences.bindReference(rKeyU, rOut)
      val rTimeE = BindReferences.bindReference(rTimeU, rOut)
      val payProj = UnsafeProjection.create(payloadL, rOut)
      val resultProj = UnsafeProjection.create(outAttrs, outAttrs)
      val joined = new JoinedRow
      val wrap = new GenericInternalRow(1)

      // values eval'd from a sorted-iterator row alias its reused
      // buffer — anything held across next() needs a stable copy
      def stable(v: Any): Any = v match {
        case s: UTF8String => s.clone()
        case a: ArrayData => a.copy()
        case r: InternalRow => r.copy()
        case x => x
      }

      new Iterator[InternalRow] {
        // one-row lookahead on the right, pre-extracted: rows with a
        // NULL key or time can never match and are skipped at fetch
        private var hasHead = false
        private var hKey: Any = _
        private var hTime: Any = _
        private var hPay: UnsafeRow = _
        private def fetch(): Unit = {
          hasHead = false
          while (!hasHead && rIter.hasNext) {
            val r = rIter.next()
            val k = rKeyE.eval(r)
            val t = rTimeE.eval(r)
            if (k != null && t != null) {
              hKey = stable(k); hTime = stable(t); hPay = payProj(r).copy()
              hasHead = true
            }
          }
        }
        fetch()

        // the running candidate: last usable right payload for curKey
        // (for Nearest, also its time — the backward delta's operand)
        private var hasCur = false
        private var curKey: Any = _
        private var curTime: Any = _
        private var curMatch: UnsafeRow = _

        override def hasNext: Boolean = lIter.hasNext

        override def next(): InternalRow = {
          val l = lIter.next()
          val lk = lKeyE.eval(l)
          val lt = lTimeE.eval(l)
          if (lk == null || lt == null) {
            wrap.update(0, null)
          } else {
            if (hasCur && keyOrd.compare(curKey, lk) != 0) {
              hasCur = false; curMatch = null
            }
            // consume right rows that are at-or-before this left row:
            // smaller keys are dead (left is ascending), equal-key rows
            // inside the time bound become the new candidate. For
            // Nearest the bound is always at-or-before — a delta-0
            // forward row is the same as a delta-0 backward row.
            var advance = hasHead
            while (advance) {
              val kc = keyOrd.compare(hKey, lk)
              if (kc < 0) {
                fetch(); advance = hasHead
              } else if (kc == 0 && {
                  val tc = timeOrd.compare(hTime, lt)
                  modeL match {
                    case AsofJoinMode.Prior(strict) => if (strict) tc < 0 else tc <= 0
                    case AsofJoinMode.Nearest(_) => tc <= 0
                  }
                }) {
                hasCur = true; curKey = hKey; curTime = hTime; curMatch = hPay
                fetch(); advance = hasHead
              } else advance = false
            }
            modeL match {
              case AsofJoinMode.Prior(_) =>
                wrap.update(0, if (hasCur) curMatch else null)
              case AsofJoinMode.Nearest(tol) =>
                // backward candidate vs the head (the FIRST same-key row
                // strictly after lt — exactly the forward candidate,
                // still unconsumed so it can serve later left rows)
                val ltL = lt.asInstanceOf[Long]
                val db = if (hasCur) ltL - curTime.asInstanceOf[Long] else Long.MaxValue
                val df =
                  if (hasHead && keyOrd.compare(hKey, lk) == 0)
                    hTime.asInstanceOf[Long] - ltL
                  else Long.MaxValue
                val chosen =
                  if (db <= df) { if (db <= tol) curMatch else null }
                  else { if (df <= tol) hPay else null }
                wrap.update(0, chosen)
            }
          }
          resultProj(joined(l, wrap))
        }
      }
    }
  }
}
