package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.optimizer.CollapseProject
import org.apache.spark.sql.catalyst.plans.{Inner, LeftSemi}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Generate, HintInfo, Join, JoinHint, LogicalPlan, Project, BROADCAST}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{IntegerType, LongType}

/** Optimizer rule: rewrite a naive all-pairs hamming-distance join into a
  * banded LSH equi-join — the SURVEY §2.8 "whole-operator semantics via
  * `Rule[LogicalPlan]`" surface (≙ the reference's `OptimizerRule` trait,
  * `datafusion/optimizer/src/optimizer.rs:74`, whose `rewrite` at :114
  * transforms the logical plan the same way), applied to the one operator
  * family where Spark's planner genuinely picks a catastrophic plan.
  *
  * A similarity self-join written the natural way,
  *
  * {{{ SELECT ... FROM s a JOIN s b ON bit_count(a.sh ^ b.sh) <= 8 ... }}}
  *
  * has no equi-join key, so Spark executes a nested-loop join: O(n²)
  * comparisons — the 100 TB killer. But hamming balls admit an exact LSH
  * decomposition (pigeonhole): split the 64-bit domain into k+1 bands; two
  * values at distance ≤ k must agree on at least one whole band. The rule
  * rewrites the join to
  *
  *  - drop null sketches (they never satisfy the bound) and posexplode
  *    a k+1-entry band array on each side,
  *  - equi-join on (band index, band value) — a shuffled hash join whose
  *    work is ∝ band collisions,
  *  - keep each qualifying pair exactly once by restricting to the FIRST
  *    shared band (`pos = CASE WHEN (a^b) & mask0 = 0 THEN 0 WHEN ... END`
  *    — band q is shared iff the XOR vanishes on the positions q owns),
  *    so multiplicity is identical to the nested-loop join with no
  *    key-uniqueness assumption about the inputs,
  *  - re-apply the ORIGINAL condition (the exact bit_count bound and any
  *    other conjuncts) as the banded join's residual condition,
  *  - project back to the original join output.
  *
  * Fires only on INNER joins whose condition has a
  * `bit_count(attrL ^ attrR) <= lit` conjunct (k ≤ 15, both sides long
  * columns from opposite inputs) and no existing equi-join conjunct (if
  * one exists, the hash join on it is already fine — and the guard also
  * makes the rewrite non-reapplicable, since the rewritten join is
  * equi-keyed). `Engine.wireSession` appends it to
  * `experimentalMethods.extraOptimizations` of every session graft builds
  * or prepares; [[GraftExtensions]] injects it builder-time for sessions
  * graft does not build.
  *
  * Skew contract (measured, BASELINE.md "Banded-join skew"): the rewrite
  * makes CANDIDATE GENERATION distributable (shuffle ∝ band collisions),
  * but a clone cluster of m identical sketches still yields an inherently
  * quadratic m² pair OUTPUT concentrated on one (band, value) key — and
  * AQE's skew split cannot help, because the hot partition is tiny on the
  * INPUT side where its heuristics look. Callers with clone-heavy corpora
  * compose the join AFTER exact-dup collapse (GROUP BY sketch, join
  * distinct sketches, recover multiplicities arithmetically — the
  * q43 → q45 composition): measured 345.9 s → 11.3 s on a 30%-clones
  * corpus. A triangular grid-salt of the band key (q47's scheme) merely
  * redistributes the enumeration (111 s) — collapsing beats salting.
  */
object HammingJoinRewrite extends Rule[LogicalPlan] with PredicateHelper {
  private val MaxK = 15
  private val DomainBits = 64

  /** Kill switch (session conf): the benchmarks and the spec's ground-truth
    * path need the genuinely-naive plan, and clearing
    * `extraOptimizations` cannot remove a builder-injected rule. */
  val EnabledConf = "spark.graft.hammingJoinRewrite.enabled"

  /** Band q owns the INTERLEAVED bit positions {q, q+nb, q+2nb, ...}: the
    * bands partition all 64 positions, so the pigeonhole recall argument
    * is unchanged, but a sketch narrower than 64 bits (whose high bits are
    * constantly zero) spreads its ≤ nb dead positions one-per-band instead
    * of concentrating them in one nearly-constant top band that ~every
    * pair would collide in (a contiguous layout gave the top band only 3
    * signal bits for 60-bit sketches at k=8 → 1/8 of ALL pairs collided
    * there). */
  private[graft] def bandPositions(k: Int): Seq[Seq[Int]] = {
    val nb = k + 1
    (0 until nb).map(q => (q until DomainBits by nb))
  }

  /** OR of each owned bit moved to a compact position: the band value. */
  private def bandVal(x: Expression, positions: Seq[Int]): Expression =
    positions.zipWithIndex.map { case (j, m) =>
      ShiftLeft(BitwiseAnd(ShiftRight(x, Literal(j)), Literal(1L)), Literal(m))
        : Expression
    }.reduce(BitwiseOr(_, _))

  /** `bit_count(a ^ b) <= k` (either argument order) with a, b simple long
    * columns from opposite join sides. */
  private def matchConjunct(c: Expression, left: LogicalPlan,
      right: LogicalPlan): Option[(Attribute, Attribute, Int)] = c match {
    case LessThanOrEqual(BitwiseCount(BitwiseXor(a: AttributeReference, b: AttributeReference)), Literal(k: Int, IntegerType))
        if k >= 0 && k <= MaxK && a.dataType == LongType && b.dataType == LongType =>
      if (left.outputSet.contains(a) && right.outputSet.contains(b)) Some((a, b, k))
      else if (left.outputSet.contains(b) && right.outputSet.contains(a)) Some((b, a, k))
      else None
    case _ => None
  }

  private def isEquiConjunct(c: Expression, left: LogicalPlan, right: LogicalPlan): Boolean =
    c match {
      case EqualTo(l, r) =>
        (l.references.subsetOf(left.outputSet) && r.references.subsetOf(right.outputSet)) ||
          (l.references.subsetOf(right.outputSet) && r.references.subsetOf(left.outputSet))
      case _ => false
    }

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (conf.getConfString(EnabledConf, "true") != "true") plan
    else collapseIfBanded(plan, plan.transformUp {
      case j @ Join(left, right, Inner, Some(cond), _) =>
        val conjuncts = splitConjunctivePredicates(cond)
        val hit = conjuncts.flatMap(matchConjunct(_, left, right)).headOption
        if (hit.isEmpty || conjuncts.exists(isEquiConjunct(_, left, right))) j
        else {
          val (a, b, k) = hit.get
          val bds = bandPositions(k)

          // a null sketch never satisfies bit_count(a ^ b) <= k, so the
          // INNER join loses nothing when null rows are dropped below the
          // explode; the band values then read a known-non-null sketch and
          // compile without a null check per extracted bit
          def explodeBands(child: LogicalPlan, x: Attribute, tag: String)
              : (LogicalPlan, Attribute, Attribute) = {
            val (input, sketch) =
              if (x.nullable) (Filter(IsNotNull(x), child), KnownNotNull(x)) else (child, x)
            val arr = CreateArray(bds.map(bandVal(sketch, _)))
            val pos = AttributeReference(s"__${tag}_band", IntegerType, nullable = false)()
            val bv = AttributeReference(s"__${tag}_bv", LongType, nullable = false)()
            (Generate(PosExplode(arr), unrequiredChildIndex = Nil, outer = false,
              qualifier = None, generatorOutput = Seq(pos, bv), child = input), pos, bv)
          }

          val (lg, lpos, lbv) = explodeBands(left, a, "l")
          val (rg, rpos, rbv) = explodeBands(right, b, "r")
          // first-shared-band index: band q is shared ⟺ a and b agree on
          // every position q owns ⟺ ((a ^ b) & mask_q) = 0 — so the CASE
          // probes one XOR against 9 constant masks (~30 ops/row) instead
          // of re-assembling both sides' band values (2 × 60 shift/and/or
          // chains, ~500 ops/row: at organic ×100 the banded join streams
          // ~460M candidate rows through this filter and the re-assembly
          // form measured 226 s for the stage — the mask form is the same
          // predicate, round-14 measurement in BASELINE). A joined pair
          // matches at least one band and both sketches are non-null
          // (null ones are dropped below the explode), so the CASE is
          // never null.
          val xorAB = BitwiseXor(a, b)
          val firstShared = CaseWhen(bds.zipWithIndex.map { case (ps, i) =>
            (EqualTo(BitwiseAnd(xorAB, Literal(ps.map(1L << _).reduce(_ | _))),
              Literal(0L)), Literal(i)): (Expression, Expression)
          })
          // the residual is the banded join's own condition, not a Filter
          // above it: `extraOptimizations`, where wireSession installs this
          // rule, runs after the batches that fold a Filter into a join,
          // so only this form is evaluated inside the hash join there
          Project(j.output, Join(lg, rg, Inner,
            Some((Seq(EqualTo(lpos, rpos), EqualTo(lbv, rbv)) ++ conjuncts :+
              EqualTo(lpos, firstShared)).reduceLeft(And)), j.hint))
        }
    })

  /** Merge the rewrite's Project into the one above it, as the operator
    * batch's CollapseProject does: no batch that collapses projects runs
    * after `extraOptimizations`, where wireSession installs this rule. A
    * plan the rule left alone is returned as it came. */
  private def collapseIfBanded(in: LogicalPlan, out: LogicalPlan): LogicalPlan =
    if (out eq in) in else CollapseProject(out)
}

/** Optimizer rule: make the scale-safe plan the DEFAULT for the EXISTS /
  * LEFT SEMI shape `small ⋉ huge` — the tq4 100×-killer (BASELINE §×1000:
  * the planner's SMJ semi-join sorts/shuffles the full 600M-row fact side,
  * 112 s, while the measured two-phase broadcast rewrite runs ~6 s).
  *
  * ≙ the reference's build-side selection (`DF:core/src/physical_optimizer/
  * join_selection.rs` CollectLeft: collect the small side once, stream the
  * big side map-side with no repartition of the fact table) — re-expressed
  * as a logical rewrite because Spark's hash-join strategy can only BUILD
  * the right side of a LeftSemi, so no threshold setting ever yields a
  * fact-side-unshuffled semi join natively. The rewrite:
  *
  *  1. `probe`   = the left attrs the join condition reads (LA) — a
  *                 projected slice of the SMALL side, broadcast as is;
  *  2. `matched` = DISTINCT LA tuples that find a partner:
  *                 `huge ⋈ broadcast(probe)` on the ORIGINAL condition —
  *                 the fact table is consumed MAP-SIDE, never shuffled;
  *                 the only shuffle is the distinct over matched LA
  *                 tuples, bounded by |probe|, with map-side partial
  *                 aggregation doing almost all of the collapse;
  *  3. rebuild   `left ⋉ broadcast(matched)` on null-safe equality over
  *                 LA — exact: semi membership depends on a left row only
  *                 through its LA tuple, `matched` is precisely the set of
  *                 qualifying LA tuples (condition nulls drop rows in both
  *                 forms), and `<=>` re-attaches tuples containing nulls
  *                 identically.
  *
  * Fires only on unhinted, non-streaming LeftSemi joins with a
  * deterministic condition containing ≥1 clean EqualTo equi-conjunct
  * (the map-side join must be HASH, not nested-loop), groupable LA types,
  * and a favorable size shape — SCALE-ADAPTIVE by construction:
  *  - the right side exceeds `spark.sql.autoBroadcastJoinThreshold`
  *    (below it the stock planner broadcasts the right side natively and
  *    nothing big shuffles — at sf0.01 the rule stands down and the
  *    native BHJ runs; past the threshold the stock plan shuffles the
  *    full fact side, which is where the rewrite takes over);
  *  - the projected left slice is under [[thresholdBytes]] (runtime-
  *    sized: heap/16 capped at 8 GB — on a small driver the rewrite
  *    stands down and the stock shuffle plan runs) and under ratio× the
  *    right side. Re-fire safe: the emitted joins carry
  * broadcast hints and `<=>`-only conditions, which the guards reject.
  * Registered via `experimentalMethods.extraOptimizations` (the LAST
  * optimizer batch) — builder-time `injectOptimizerRule` would run before
  * `RewritePredicateSubquery`, i.e. before EXISTS becomes a LeftSemi.
  */
object BroadcastSemiJoinRewrite extends Rule[LogicalPlan] with PredicateHelper {
  val EnabledConf = "spark.graft.semiBroadcastRewrite.enabled"
  val RatioConf = "spark.graft.semiBroadcastRewrite.ratio"

  /** Runtime-sized broadcast budget for the probe slice (VERDICT r6 #1):
    * 1/16 of the driver heap, capped at 8 GB. local[32]@96g → 6 GB (the
    * ×1000 filtered-orders slice is ~1.4 GB); an 8 GB driver → 512 MB. */
  private[graft] def thresholdBytes: Long =
    math.min(Runtime.getRuntime.maxMemory() / 16, 8L << 30)

  private val bcastRight = JoinHint(None, Some(HintInfo(Some(BROADCAST))))

  private def cleanEquiConjunct(c: Expression, left: LogicalPlan,
      right: LogicalPlan): Boolean = c match {
    case EqualTo(l, r) =>
      (l.references.nonEmpty && r.references.nonEmpty) &&
        ((l.references.subsetOf(left.outputSet) && r.references.subsetOf(right.outputSet)) ||
          (l.references.subsetOf(right.outputSet) && r.references.subsetOf(left.outputSet)))
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (conf.getConfString(EnabledConf, "true") != "true") plan
    else plan.transformUp {
      case j @ Join(left, right, LeftSemi, Some(cond), hint)
          if hint == JoinHint.NONE && cond.deterministic &&
            !left.isStreaming && !right.isStreaming =>
        val la = left.output.filter(cond.references.contains)
        val probeSlice = Project(la, left)
        lazy val probeSize = probeSlice.stats.sizeInBytes
        lazy val ratio = conf.getConfString(RatioConf, "1").toDouble
        // "is the fact side huge" must come from the largest LEAF scan
        // under the right subtree, not right.stats: size-only estimation
        // multiplies join children, so a tiny aggregate over a join (the
        // tq20 IN-subquery shape) reads as petabytes and would mis-fire
        // the rewrite at toy scale
        lazy val rightFactSize = right.collectLeaves()
          .map(_.stats.sizeInBytes).foldLeft(BigInt(0))(_ max _)
        // The rewrite computes `left` TWICE (probe slice + rebuild), so it
        // only pays when the right FACT side is at least 2× the left's own
        // largest scan. tq21's EXISTS has lineitem on BOTH sides (left is a
        // 4-way join over it): firing there duplicated the join chain for
        // a 6× regression at sf0.1, while the semi shape it exists for
        // (tq4: filtered orders ⋉ lineitem) has a left leaf ~3.5× smaller
        // than the fact at every scale ladder decade.
        lazy val leftFactSize = left.collectLeaves()
          .map(_.stats.sizeInBytes).foldLeft(BigInt(0))(_ max _)
        val fire =
          splitConjunctivePredicates(cond).exists(cleanEquiConjunct(_, left, right)) &&
            la.nonEmpty && la.forall(a => RowOrdering.isOrderable(a.dataType)) &&
            conf.autoBroadcastJoinThreshold > 0 &&
            rightFactSize > conf.autoBroadcastJoinThreshold &&
            probeSize <= thresholdBytes &&
            BigDecimal(rightFactSize) >= BigDecimal(probeSize) * ratio &&
            rightFactSize >= leftFactSize * 2
        if (!fire) j
        else {
          // step 1 broadcasts the projected slice WITHOUT a DISTINCT: one
          // fewer blocking shuffle before the fact-side map join can start,
          // and thresholdBytes already sizes the non-distinct slice, so the
          // broadcast budget is the same; duplicates (rare: probe attrs are
          // usually the small side's key) only inflate the inner join's
          // input to `matched`, whose map-side partial agg collapses them.
          // Chosen by the ×1000 A/B (round 10, fresh JVM ×3 reps on tq4's
          // shape, BASELINE §tq4 matrix): steady state is a tie (11.1 s vs
          // 11.2 s) but the non-distinct plan is ~2.3 s faster on the cold
          // first run (16.9 s vs 19.2 s) — the regime a run-once scan job
          // lives in.
          val inner = Join(right, probeSlice, Inner, Some(cond), bcastRight)
          val fresh = la.map(a => Alias(a, a.name)())
          val matched = Aggregate(la, fresh, Project(la, inner))
          val rejoin = la.zip(fresh.map(_.toAttribute))
            .map { case (a, f) => EqualNullSafe(a, f): Expression }
            .reduce(And)
          Join(left, matched, LeftSemi, Some(rejoin), bcastRight)
        }
    }
}

/** Builder-time wiring of the library into a session graft does not
  * build (`spark.sql.extensions=graft.GraftExtensions`): all custom
  * Catalyst functions plus the [[HammingJoinRewrite]] optimizer rule — the
  * `SparkSessionExtensions` integration surface of SURVEY §2.8 (≙ the
  * reference's `SessionContext::register_udf` at
  * `datafusion/core/src/execution/context/mod.rs:1117` +
  * `SessionContext::add_optimizer_rule` at `:456`). Graft's own sessions
  * and every prepared one are wired by `Engine.wireSession` instead;
  * `Engine.prepare` on an extensions-built session adds the rest, and the
  * rule's second copy is a no-op. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach { case (name, builder) =>
      e.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft", name), builder))
    }
    e.injectOptimizerRule(_ => HammingJoinRewrite)
  }
}

object GraftExtensions {
  /** Every custom Catalyst function, for both wiring paths: builder-time
    * [[GraftExtensions]] and `functions.registerAll` on a live session. */
  val functions: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "greatest_ref" -> GreatestRef.build _,
    "gcd" -> Gcd.build _,
    "lcm" -> Lcm.build _,
    "dot_product" -> DotProduct.build _,
    "poly_hash" -> PolyHash.build _,
    "min_gram_hash" -> MinGramHash.build _,
    "token_lex_count" -> TokenLexCount.build _,
    "simhash60" -> SimHash60.build _,
    "to_fixed" -> DoubleToFixed.build _)
}
