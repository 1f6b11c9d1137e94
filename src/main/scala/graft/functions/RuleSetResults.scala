package graft.functions

import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{CreateMap, CreateNamedStruct, ElementAt, Expression, GenericInternalRow, Literal, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapBuilder, ArrayBasedMapData, ArrayData, GenericArrayData, MapData}
import org.apache.spark.sql.types._

/**
 * The static shape of a suite's `ruleSetResults`: each rule set's packed id
 * with the packed ids of its rules, in results-array order, and the
 * suite's `probablePass`.
 */
case class RuleSetLayout(sets: Seq[(Long, Seq[Long])], probablePass: Double) {
  def width: Int = sets.iterator.map(_._2.size).sum

  /** `[setId, ruleCount, ruleId…]` per set: the one `long[]` the generated
   * code references. */
  lazy val packed: Array[Long] =
    sets.flatMap { case (s, rs) => s +: rs.size.toLong +: rs }.toArray

  override def toString: String =
    s"RuleSetLayout(${sets.size} sets, $width rules, probablePass $probablePass)"

  /** A repeated set id, or a rule id repeated within one set: those maps go
   * through Spark's map builder, so `spark.sql.mapKeyDedupPolicy` applies. */
  lazy val hasDuplicateKeys: Boolean =
    sets.map(_._1).distinct.size != sets.size ||
      sets.exists { case (_, rs) => rs.distinct.size != rs.size }
}

object RuleSetLayout {
  def of(suite: graft.rules.RuleSuite): RuleSetLayout =
    RuleSetLayout(
      suite.ruleSets.map(rs => graft.rules.Id.pack(rs.id) -> rs.rules.map(r => graft.rules.Id.pack(r.id))),
      suite.probablePass)
}

/**
 * A suite's `ruleSetResults`,
 * `map<bigint, struct<overallResult: int, ruleResults: map<bigint, int>>>`,
 * built from its coerced results array by one node, however wide. The
 * generated code is one call into [[RuleSetResults.build]] with the layout's
 * ids as one `long[]` reference, and the interpreted eval makes the same
 * call. Each set's overall is [[RuleOverallFold]]; the maps are
 * `ArrayBasedMapData`.
 *
 * [[expand]] is the equivalent per-rule constructor tree (one
 * `element_at(results, i)` per rule, one `CreateMap` per set). The optimizer
 * substitutes it where a map extraction reads this node
 * (`StaticHofUnroll`), so flatten and literal-id lookups still fold to the
 * rules they read.
 */
case class RuleSetResults(results: Expression, layout: RuleSetLayout) extends UnaryExpression {
  override def child: Expression = results
  override def prettyName: String = "rule_set_results"

  // the types `expand` infers, empty maps included: Spark types an empty
  // `map()` as map<void, void> unless a sibling map gives it key and value
  private lazy val rulesType: MapType =
    if (layout.width == 0) MapType(NullType, NullType, valueContainsNull = false)
    else MapType(LongType, IntegerType,
      (1 to layout.width).exists(i => ElementAt(results, Literal(i)).nullable))

  private lazy val setType: StructType = StructType(Seq(
    StructField("overallResult", IntegerType, results.nullable),
    StructField("ruleResults", rulesType, nullable = false)))

  override lazy val dataType: DataType =
    if (layout.sets.isEmpty) MapType(NullType, NullType, valueContainsNull = false)
    else MapType(LongType, setType, valueContainsNull = false)

  override protected def nullSafeEval(input: Any): Any =
    RuleSetResults.build(input.asInstanceOf[ArrayData], layout.packed,
      layout.probablePass, layout.hasDuplicateKeys)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ids = ctx.addReferenceObj("graftRuleSetIds", layout.packed, "long[]")
    val pp = RuleOverallFold.javaDouble(layout.probablePass)
    nullSafeCodeGen(ctx, ev, arr =>
      s"${ev.value} = graft.functions.RuleSetResults.build(" +
        s"$arr, $ids, $pp, ${layout.hasDuplicateKeys});")
  }

  /** The per-rule constructor tree this node replaces, of the same type. */
  def expand: Expression = {
    def emptyMap(t: DataType) =
      Literal.create(new ArrayBasedMapData(new GenericArrayData(Array.empty[Any]),
        new GenericArrayData(Array.empty[Any])), t)
    var idx = 0
    val entries = layout.sets.flatMap { case (setId, ruleIds) =>
      val from = idx
      val rules = ruleIds.flatMap { r =>
        idx += 1
        Seq(Literal(r), ElementAt(results, Literal(idx)))
      }
      val set = CreateNamedStruct(Seq(
        Literal("overallResult"), RuleOverall(results, from, idx, layout.probablePass),
        Literal("ruleResults"), if (rules.isEmpty) emptyMap(rulesType) else CreateMap(rules)))
      set.setTagValue(FunctionRegistry.FUNC_ALIAS, "struct") // prints as `struct(...)` did
      Seq(Literal(setId), set)
    }
    if (entries.isEmpty) emptyMap(dataType) else CreateMap(entries)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(results = newChild)
}

object RuleSetResults {
  private val setType = StructType(Seq(
    StructField("overallResult", IntegerType),
    StructField("ruleResults", MapType(LongType, IntegerType))))

  /** The map for `results` and a [[RuleSetLayout.packed]] layout: keys and
   * values in layout order; with `dedup`, every map goes through Spark's
   * `ArrayBasedMapBuilder`, as `map(...)` would. */
  def build(results: ArrayData, ids: Array[Long], probablePass: Double, dedup: Boolean): MapData = {
    val setIds = new Array[Long](countSets(ids))
    val sets = new Array[Any](setIds.length)
    var p = 0
    var s = 0
    var from = 0
    while (p < ids.length) {
      setIds(s) = ids(p)
      val n = ids(p + 1).toInt
      val until = from + n
      val rules =
        if (dedup) {
          val b = new ArrayBasedMapBuilder(LongType, IntegerType)
          var i = 0
          while (i < n) {
            b.put(ids(p + 2 + i), if (results.isNullAt(from + i)) null else results.getInt(from + i))
            i += 1
          }
          b.build()
        } else
          new ArrayBasedMapData(longs(ids, p + 2, n), ints(results, from, until))
      val overall = RuleOverallFold.fold(results.getInt, from, until, probablePass)
      sets(s) = new GenericInternalRow(Array[Any](overall, rules))
      p += 2 + n
      s += 1
      from = until
    }
    if (dedup) {
      val b = new ArrayBasedMapBuilder(LongType, setType)
      var i = 0
      while (i < sets.length) { b.put(setIds(i), sets(i)); i += 1 }
      b.build()
    } else new ArrayBasedMapData(longs(setIds, 0, setIds.length), new GenericArrayData(sets))
  }

  private def countSets(ids: Array[Long]): Int = {
    var p = 0
    var n = 0
    while (p < ids.length) { p += 2 + ids(p + 1).toInt; n += 1 }
    n
  }

  private def longs(from: Array[Long], at: Int, n: Int): ArrayData = {
    val out = UnsafeArrayData.createFreshArray(n, 8)
    var i = 0
    while (i < n) { out.setLong(i, from(at + i)); i += 1 }
    out
  }

  private def ints(results: ArrayData, from: Int, until: Int): ArrayData = {
    val out = UnsafeArrayData.createFreshArray(until - from, 4)
    var i = from
    while (i < until) {
      if (results.isNullAt(i)) out.setNullAt(i - from) else out.setInt(i - from, results.getInt(i))
      i += 1
    }
    out
  }
}
