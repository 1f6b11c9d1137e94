package graft.plans

import graft.functions.RuleSetResults
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Generate, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.StringType

/**
 * Statically unrolls higher-order functions applied to literal collection
 * constructors, so flatten-style APIs plan as well as hand-built flat output.
 *
 * The DQ flatten path builds a nested result struct (maps of per-rule ints)
 * and immediately takes it apart again with map_entries/transform/flatten
 * (RuleRunner.flattenResults). Left to run time, every row materializes the
 * intermediate maps and walks them with interpreted lambdas inside the
 * Generate. Unrolled, the chain collapses to a minimal
 * explode-over-array-of-structs plan: rule expressions stay in whole-stage
 * codegen, the intermediate maps never exist, and column pruning reaches
 * the scan.
 *
 * Two cooperating rewrites (both only touch literal constructors, so data
 * read from tables is never affected):
 *
 * 1. Expression-level unroll, run everywhere:
 *      map_entries(map(k1,v1,…))   ⇒ array(struct(k1,v1),…)
 *      transform(array(e1,…), λ)   ⇒ array(λ(e1,0), …)     [guarded]
 *      flatten(array(array(…),…))  ⇒ array(…)
 *    An element is only substituted into a lambda body if it is deterministic
 *    or referenced at most once — otherwise unrolling would change how many
 *    times a nondeterministic expression evaluates.
 *
 * 2. Generate-input inlining: a generator that references a deterministic
 *    alias built by its child Project (the struct assembled by
 *    addDataQuality) is substituted + unrolled speculatively; the rewrite is
 *    kept ONLY if no runtime HOF node survives, i.e. the whole chain folded
 *    to constructors. Otherwise the original plan is returned untouched, so
 *    a generator over genuinely dynamic data never regresses.
 *
 * A suite's `ruleSetResults` is one [[RuleSetResults]] node; a map
 * extraction reading it (map_entries, element_at, map value lookup) reads
 * the node's `expand` constructor tree instead, so both rewrites see the
 * per-rule constructors.
 *
 * Registered through GraftExtension, the rule runs inside the operator-
 * optimization fixed point, interleaved with CollapseProject/ColumnPruning/
 * SimplifyExtractValueOps, which clean up the folded residue.
 */
object StaticHofUnroll extends Rule[LogicalPlan] {

  /** Plans stay linear in rule count; genuinely huge literal arrays keep the
   * runtime HOF path. */
  private val MaxElems = 1024

  private def countRefs(e: Expression, id: ExprId): Int = {
    var n = 0
    e.foreach {
      case v: NamedLambdaVariable if v.exprId == id => n += 1
      case _ => ()
    }
    n
  }

  /** Inline one lambda application; None when substitution would duplicate a
   * nondeterministic element expression. */
  /** An element safe to substitute at MULTIPLE reference sites: constructors
   * (their duplicates fold away through GetStructField/extract
   * simplification) and leaves. An arbitrary expression (e.g. a split())
   * must NOT be duplicated — the single-element-transform "let" pattern
   * exists precisely to evaluate it once (Text.shingles hoists the word
   * split this way; duplicating it is O(words²) per doc). */
  private def foldsAway(e: Expression): Boolean = e match {
    case _: CreateNamedStruct | _: CreateArray | _: CreateMap => true
    case _: Literal | _: Attribute | _: NamedLambdaVariable => true
    case g: GetStructField => foldsAway(g.child)
    case _ => false
  }

  private def bind(fn: LambdaFunction, elem: Expression, idx: Int): Option[Expression] = {
    val vars = fn.arguments.collect { case v: NamedLambdaVariable => v }
    if (vars.size != fn.arguments.size || vars.isEmpty) return None
    val bindings: Seq[(NamedLambdaVariable, Expression)] =
      vars.zip(elem +: (if (vars.size > 1) Seq(Literal(idx)) else Nil))
    val safe = bindings.forall { case (v, e) =>
      countRefs(fn.function, v.exprId) <= 1 || (e.deterministic && foldsAway(e))
    }
    if (!safe) None
    else Some(fn.function.transformUp {
      case v: NamedLambdaVariable =>
        bindings.collectFirst { case (b, e) if b.exprId == v.exprId => e }.getOrElse(v)
    })
  }

  /** A map extraction reading a [[RuleSetResults]] node reads the node's
   * per-rule constructor tree instead, so it folds like any literal map. */
  private def expandRead(e: Expression): Expression = e match {
    case MapEntries(rs: RuleSetResults) => MapEntries(rs.expand)
    case ea @ ElementAt(rs: RuleSetResults, _, _, _) => ea.copy(left = rs.expand)
    case gm @ GetMapValue(rs: RuleSetResults, _) => gm.copy(child = rs.expand)
    case other => other
  }

  private def unrollOnce(root: Expression): Expression = root.transformUp {
    case me: MapEntries => expandRead(me) match {
      case MapEntries(cm: CreateMap) if cm.keys.nonEmpty && cm.keys.size <= MaxElems =>
        CreateArray(cm.keys.zip(cm.values).map { case (k, v) =>
          CreateNamedStruct(Seq(Literal("key"), k, Literal("value"), v))
        })
      case other => other
    }
    case t @ ArrayTransform(ca: CreateArray, fn: LambdaFunction)
        if ca.children.nonEmpty && ca.children.size <= MaxElems =>
      val inlined = ca.children.zipWithIndex.map { case (e, i) => bind(fn, e, i) }
      if (inlined.forall(_.isDefined)) CreateArray(inlined.map(_.get)) else t
    case Flatten(ca: CreateArray)
        if ca.children.nonEmpty && ca.children.forall(_.isInstanceOf[CreateArray]) &&
          ca.children.map(_.children.size).sum <= MaxElems &&
          ca.children.exists(_.children.nonEmpty) =>
      CreateArray(ca.children.flatMap(_.children))
    // local extract-folding so nested unrolls see constructors; the stock
    // SimplifyExtractValueOps does the same outside this rule
    case GetStructField(cns: CreateNamedStruct, ordinal, _) => cns.valExprs(ordinal)
  }

  private def fixpoint(e: Expression): Expression = {
    var cur = e
    var i = 0
    while (i < 16) {
      val next = unrollOnce(cur)
      if (next fastEquals cur) return cur
      cur = next
      i += 1
    }
    cur
  }

  private def hasRuntimeHof(e: Expression): Boolean = e.exists {
    case _: MapEntries | _: ArrayTransform | _: Flatten => true
    case _ => false
  }

  /** Generator-boundary common-subexpression elimination. Unrolling a
   * flatten duplicates the shared per-row pieces (suite/set overall
   * results) into EVERY generated element; the duplicates are semantically
   * fine but quadratic in plan size — a fresh query pays seconds of
   * optimizer + Janino time per run (measured 6-8 s/run on a 4-rule suite
   * before this pass; the generated projection method also balloons).
   * Hoist every deterministic subtree that occurs more than once into an
   * alias computed ONCE in the Generate's child Project. */
  private def hoistCommon(
      gen: Expression,
      childOutput: AttributeSet): (Expression, Seq[Alias]) = {
    val counts = scala.collection.mutable.HashMap.empty[Expression, Int]
    gen.foreach { e =>
      if (worthHoisting(e)) {
        val k = e.canonicalized
        counts.update(k, counts.getOrElse(k, 0) + 1)
      }
    }
    val hoisted = scala.collection.mutable.LinkedHashMap.empty[Expression, Alias]
    var i = 0
    // top-down: take the MAXIMAL repeated subtree, don't descend into it
    def rewrite(e: Expression): Expression = {
      // an alias hoisted into the child Project can only see the Project's
      // child output — a subtree still referencing a sibling alias (e.g. a
      // surviving nondeterministic alias not inlined above) must stay put
      if (worthHoisting(e) && counts.getOrElse(e.canonicalized, 0) > 1 &&
          e.references.subsetOf(childOutput)) {
        val a = hoisted.getOrElseUpdate(e.canonicalized, {
          i += 1
          Alias(e, s"graft_cse_$i")()
        })
        a.toAttribute
      } else e.mapChildren(rewrite)
    }
    // keep the generator node itself; rewrite only below it
    val out = gen.mapChildren(rewrite)
    (out, hoisted.values.toSeq)
  }

  /** Worth a column of its own: deterministic, no lambda variables, and not
   * a trivial leaf/extract whose duplication is free. */
  private def worthHoisting(e: Expression): Boolean = e match {
    case _: Literal | _: Attribute | _: NamedLambdaVariable => false
    case _: GetStructField | _: ElementAt | _: GetArrayItem => false
    case _ if !e.deterministic => false
    case _ if e.exists(_.isInstanceOf[NamedLambdaVariable]) => false
    case _ if e.references.isEmpty => false // foldable-ish: ConstantFolding handles it
    case _ => true
  }

  /** element_at over a literal array constructor with a literal index picks
   * the element statically (the stock SimplifyExtractValueOps folds
   * GetArrayItem but not ElementAt). Out-of-bounds is left for the runtime
   * (ANSI error semantics). */
  private def foldElementAt(ea: ElementAt): Option[Expression] = ea match {
    case ElementAt(ca: CreateArray, idx: Literal, None, _) if idx.value != null =>
      val i = idx.value.asInstanceOf[Number].intValue
      if (i >= 1 && i <= ca.children.size) Some(ca.children(i - 1))
      else if (i < 0 && -i <= ca.children.size) Some(ca.children(ca.children.size + i))
      else None
    case _ => None
  }

  /** rule_result(dqStruct, suiteId, setId, ruleId) over a struct CONSTRUCTOR
   * with literal ids navigates the construction statically, so the per-row
   * result struct (maps of every rule) never materializes and the lookup
   * collapses to the single referenced rule expression — which then prunes
   * the scan to that rule's columns. Returns None when anything is dynamic
   * (the runtime lookup stays). */
  private def foldRuleLookup(rl: graft.functions.RuleResultLookup): Option[Expression] = {
    val (cns, s, set, r) = rl match {
      case graft.functions.RuleResultLookup(c: CreateNamedStruct, a, b, d)
          if a.foldable && b.foldable && d.foldable && c.resolved => (c, a, b, d)
      case _ => return None
    }
    val names = cns.nameExprs.map {
      case Literal(n, StringType) => n.toString
      case _ => return None
    }
    def field(n: String): Option[Expression] =
      names.indexOf(n) match { case -1 => None; case i => Some(cns.valExprs(i)) }
    // literal-keyed map constructor lookup: Some(value) on a key hit, None =
    // key statically absent; bails out of the whole fold if keys are dynamic
    def mapGet(cm: CreateMap, key: Long): Option[Expression] = {
      val keys = cm.keys.map {
        case l: Literal if l.value != null => l.value.asInstanceOf[Number].longValue
        case _ => return None // dynamic key -> cannot fold; propagate bail
      }
      keys.indexOf(key) match { case -1 => None; case i => Some(cm.values(i)) }
    }
    val nullLit = Literal.create(null, rl.dataType)
    val (sV, setV, rV) = (s.eval(), set.eval(), r.eval())
    if (sV == null || setV == null || rV == null) return Some(nullLit)
    val idExpr = field("id").getOrElse(return None)
    if (!idExpr.foldable) return None
    if (idExpr.eval().asInstanceOf[Number].longValue != sV.asInstanceOf[Number].longValue)
      return Some(nullLit)
    field("ruleSetResults").map {
      case rs: RuleSetResults => rs.expand
      case other => other
    } match {
      case Some(sets: CreateMap) =>
        // dynamic-key bail must be distinguishable from a static miss
        if (sets.keys.exists(k => !k.isInstanceOf[Literal])) return None
        mapGet(sets, setV.asInstanceOf[Number].longValue) match {
          case None => Some(nullLit)
          case Some(setStruct: CreateNamedStruct) => // DQ shape
            val setNames = setStruct.nameExprs.map {
              case Literal(n, StringType) => n.toString
              case _ => return None
            }
            setNames.indexOf("ruleResults") match {
              case -1 => None
              case i => setStruct.valExprs(i) match {
                case rules: CreateMap =>
                  if (rules.keys.exists(k => !k.isInstanceOf[Literal])) return None
                  Some(mapGet(rules, rV.asInstanceOf[Number].longValue).getOrElse(nullLit))
                case _ => None
              }
            }
          case Some(rules: CreateMap) => // expressionRunner shape
            if (rules.keys.exists(k => !k.isInstanceOf[Literal])) return None
            Some(mapGet(rules, rV.asInstanceOf[Number].longValue).getOrElse(nullLit))
          case Some(_) => None
        }
      case _ => None
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val unrolled = plan.transformAllExpressions {
      case e @ (_: MapEntries | _: ArrayTransform | _: Flatten) => fixpoint(e)
      case rl: graft.functions.RuleResultLookup if rl.childrenResolved =>
        foldRuleLookup(rl).getOrElse(rl)
      case ea: ElementAt => foldElementAt(ea).getOrElse(expandRead(ea))
      case gm: GetMapValue => expandRead(gm)
    }
    unrolled.transformUp {
      case g @ Generate(gen, _, _, _, _, p @ Project(projList, pchild))
          if hasRuntimeHof(gen) =>
        val aliasMap: Map[ExprId, Expression] = projList.collect {
          case a: Alias if a.child.deterministic => a.exprId -> a.child
        }.toMap
        val hit = gen.references.exists(r => aliasMap.contains(r.exprId))
        if (!hit) g
        else {
          val substituted = gen.transformUp {
            case ar: AttributeReference if aliasMap.contains(ar.exprId) => aliasMap(ar.exprId)
          }
          val simplified = fixpoint(substituted)
          val extraRefs = simplified.references.filterNot(p.outputSet.contains)
          if (hasRuntimeHof(simplified) || !simplified.isInstanceOf[Generator] ||
              !extraRefs.forall(pchild.outputSet.contains)) g
          else {
            // shared per-row pieces (overall results) computed once in the
            // child Project, not once per generated element
            val (hoistedGen, cseAliases) = hoistCommon(simplified, pchild.outputSet)
            // pass newly-referenced child attributes through the Project;
            // ColumnPruning later drops the now-unused alias
            val newProj = Project(projList ++ extraRefs.toSeq ++ cseAliases, pchild)
            g.copy(generator = hoistedGen.asInstanceOf[Generator], child = newProj)
          }
        }
    }
  }
}
