package graft.plans

import java.time.{LocalDate, LocalDateTime}

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{DateType, IntegerType, TimestampNTZType}

/** Catalyst optimizer extension (SURVEY.md §4.3 escalation path,
  * registered via `spark.sql.extensions`).
  *
  * [[YearPredicateRewrite]] rewrites `year(col) = <literal>` into the
  * equivalent half-open range predicate on the underlying column:
  *
  * {{{ year(o_orderdate) = 1997  ⇒  o_orderdate >= '1997-01-01' AND o_orderdate < '1998-01-01' }}}
  *
  * A function call over a column is opaque to parquet — it never reaches
  * `PushedFilters`, so every row group decodes the column just to
  * evaluate the year. The range form row-group-skips at the footer: at
  * 100 TB with date-partitioned or min/max-indexed data that is the
  * difference between reading one year and scanning the lake. The
  * engine's own queries write ranges by hand (f4/q5); this rule makes
  * the optimization automatic for ad-hoc user SQL too.
  *
  * Only timezone-free types (DATE, TIMESTAMP_NTZ) are rewritten —
  * `year(TIMESTAMP)` depends on the session zone and is left alone.
  */
object YearPredicateRewrite extends Rule[LogicalPlan] {

  private def bounds(col: Expression, y: Int): Option[Expression] = col.dataType match {
    case TimestampNTZType =>
      Some(And(
        GreaterThanOrEqual(col, Literal(LocalDateTime.of(y, 1, 1, 0, 0))),
        LessThan(col, Literal(LocalDateTime.of(y + 1, 1, 1, 0, 0)))))
    case DateType =>
      Some(And(
        GreaterThanOrEqual(col, Literal(LocalDate.of(y, 1, 1))),
        LessThan(col, Literal(LocalDate.of(y + 1, 1, 1)))))
    case _ => None
  }

  /** year(x) analyzes as Year(Cast(x, DateType)) for (NTZ) timestamps. */
  private def unwrap(e: Expression): Expression = e match {
    case Cast(inner, DateType, _, _) if inner.dataType == TimestampNTZType => inner
    case other => other
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    case eq @ EqualTo(Year(c), Literal(y: Int, IntegerType)) =>
      bounds(unwrap(c), y).getOrElse(eq)
    case eq @ EqualTo(Literal(y: Int, IntegerType), Year(c)) =>
      bounds(unwrap(c), y).getOrElse(eq)
  }
}

/** Constant-folds deterministic higher-order functions whose data
  * arguments are all foldable. Catalyst's ConstantFolding skips any
  * expression containing a lambda (`HigherOrderFunction.foldable` is
  * never true), so e.g. `transform(sequence(0, 143), i -> md5(...))` —
  * a 144-entry literal lookup ring — re-evaluates PER ROW: measured
  * 2.3 s of a 2.5 s query before shard_ring_vnodes was hand-fixed
  * (BENCH_NOTES §r9). This rule evaluates such expressions ONCE at
  * optimization time and replaces them with the resulting literal, so
  * the next literal-HOF a user writes gets the fix for free.
  *
  * Scope guards: the HOF must be resolved, deterministic (covers the
  * lambda body — a rand() inside stays per-row), and every
  * non-function argument foldable. Evaluation happens on the
  * interpreted path exactly once; a failure (e.g. division by zero in
  * the lambda) falls back to leaving the expression in place rather
  * than failing the plan. */
object FoldConstantHigherOrderFunctions extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    case h: HigherOrderFunction
        if h.resolved && h.deterministic && h.arguments.forall(_.foldable) &&
           h.references.isEmpty =>
      // references.isEmpty: `arguments` covers only the DATA inputs —
      // a lambda body may still capture OUTER attributes (e.g.
      // `filter(sequence(1,12), k -> element_at(mhs_a, k) = ...)`),
      // which is per-row no matter how constant the array is. The r9
      // silent catch was masking exactly this eval failure per plan.
      // Narrow catch + logged fallback (r9 advice): a fold that throws
      // means either the lambda legitimately fails on this input (e.g.
      // division by zero — leaving it per-row preserves Spark's runtime
      // error semantics) or a Literal.create conversion bug; either way
      // the skipped optimization must be visible, not silent.
      try Literal.create(h.eval(org.apache.spark.sql.catalyst.InternalRow.empty),
        h.dataType)
      catch {
        case e @ (_: org.apache.spark.SparkException | _: RuntimeException) =>
          logWarning(s"FoldConstantHigherOrderFunctions: plan-time eval of " +
            s"${h.sql} failed (${e.getClass.getSimpleName}: ${e.getMessage}); " +
            "leaving per-row evaluation in place")
          h
      }
  }
}

/** Rewrites a plan whose ROOT is a global `Sort` — the "present the
  * final report in order" tail every registered query carries — into a
  * single-partition LOCAL sort:
  *
  * {{{ Sort(keys, global=true, child)  ⇒  Sort(keys, global=false, Repartition(1, shuffle=true, child)) }}}
  *
  * Identical rows in the identical total order, but the physical plan
  * sheds the range exchange AND its separate range-bounds sampling job —
  * which re-executes the final stage once per query just to pick bounds
  * for partitions that a report-sized result never needed (Verify then
  * coalesce(1)s the write anyway, so range-parallelism of the tail was
  * pure overhead: 271 of the 351 registered plans paid it, r11 ledger).
  *
  * GATED by `spark.graft.tailSortSinglePartition` (default FALSE): a
  * single-partition sort is only the right plan when the final result is
  * report-sized. A library user global-sorting a 100 TB result must keep
  * the parallel range sort, so only the sessions `graft.BenchEnv` builds
  * for the harness mains, which only ever emit bounded report tables,
  * opt in, and nothing else changes behavior. Root-only on purpose: a
  * sort under a Limit plans as TakeOrderedAndProject (already cheap), a
  * sort under an Aggregate is removed by EliminateSorts, and interior
  * sorts are semantic. The rewrite descends through deterministic
  * root-side Projects/SubqueryAliases (a tail `select` after `orderBy`),
  * nothing else; it is idempotent (the rewritten root is a local sort,
  * which no longer matches).
  *
  * SKIPPED when the sort's child already collapses to one partition —
  * a GlobalLimit, an empty-partition Window, an ungrouped Aggregate, or
  * an existing Repartition(1) below the root (seen through
  * deterministic Projects/Filters/aliases): SinglePartition satisfies
  * OrderedDistribution, so those plans never carried a range exchange
  * to shed, and inserting Repartition(1) would ADD a round-robin
  * exchange the r11 plan did not have (the 16 `single_partition +1`
  * ledger flags the first r12 ledger cut surfaced).
  *
  * Under an order-SENSITIVE output consumer this is still safe: the
  * single post-shuffle partition is sorted as one run, so ties tie-break
  * identically to the range-partitioned form only when the sort key is
  * total — which every registered query guarantees (the r11 driver dump
  * matched DuckDB's row order exactly on all 351 queries). */
object TailSortSinglePartition extends Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter,
    GlobalLimit, Join, Project, Repartition, Sort, SubqueryAlias, Window}

  /** Child subtree is already guaranteed to be a single partition at
    * execution time, so a global sort over it plans as a bare local
    * SortExec with no exchange — rewriting would only add one. */
  private def alreadySinglePartition(p: LogicalPlan): Boolean = p match {
    case _: GlobalLimit                       => true
    case w: Window if w.partitionSpec.isEmpty => true
    case a: Aggregate if a.groupingExpressions.isEmpty => true
    case r: Repartition if r.numPartitions == 1 => true
    case pr: Project => alreadySinglePartition(pr.child)
    case f: Filter   => alreadySinglePartition(f.child)
    case sa: SubqueryAlias => alreadySinglePartition(sa.child)
    // a join whose BOTH sides are single-partition (the scalar
    // crossJoin chains) streams one partition whichever side builds
    case j: Join =>
      alreadySinglePartition(j.left) && alreadySinglePartition(j.right)
    case _ => false
  }

  private def rewritten(p: LogicalPlan): Option[LogicalPlan] = p match {
    case s @ Sort(_, true, child, _) =>
      if (alreadySinglePartition(child)) None
      else Some(s.copy(global = false,
                       child = Repartition(1, shuffle = true, child)))
    case pr: Project if pr.projectList.forall(_.deterministic) =>
      rewritten(pr.child).map(c => pr.copy(child = c))
    case sa: SubqueryAlias =>
      rewritten(sa.child).map(c => sa.copy(child = c))
    case _ => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!conf.getConfString("spark.graft.tailSortSinglePartition", "false")
          .toBoolean) plan
    else rewritten(plan).getOrElse(plan)
}

/** Entry point for `spark.sql.extensions=graft.plans.GraftExtensions`.
  *
  * Besides the optimizer rule, the engine's native expressions are
  * registered as SQL functions so plain-SQL users get the same codegen
  * hot paths the DataFrame facade uses (`SELECT graft_dot(a, b)` etc.)
  * — the library surface isn't Scala-only. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  import org.apache.spark.sql.catalyst.FunctionIdentifier
  import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
  import graft.functions._

  /** Wraps each builder with arity validation: a plain-SQL call with the
    * wrong argument count gets an AnalysisException naming the expected
    * arity, not a raw scala.MatchError out of the partial function. */
  private def fn(name: String, usage: String, arity: Int,
                 builder: Seq[Expression] => Expression) =
    (new FunctionIdentifier(name),
     new ExpressionInfo("graft", name, usage),
     (args: Seq[Expression]) =>
       if (args.length == arity) builder(args)
       else throw new org.apache.spark.sql.AnalysisException(
         errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
         messageParameters = Map(
           "functionName" -> name,
           "expectedNum" -> arity.toString,
           "actualNum" -> args.length.toString,
           "docroot" -> "https://spark.apache.org/docs/latest")))

  /** The n-gram width is a constructor Int, not a child expression — it
    * must be a foldable integer literal at the SQL call site. */
  private def intLit(name: String, e: Expression): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int,
        org.apache.spark.sql.types.IntegerType) => v
    case _ => throw new IllegalArgumentException(
      s"$name: n must be an INT literal, got ${e.sql}")
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => YearPredicateRewrite)
    ext.injectOptimizerRule(_ => FoldConstantHigherOrderFunctions)
    ext.injectOptimizerRule(_ => TailSortSinglePartition)
    Seq(
      fn("graft_dot", "dot product of two double arrays (sequential fold)", 2,
        { case Seq(a, b) => DotProductD(a, b) }),
      fn("graft_sorted_intersect", "intersection size of two sorted string arrays", 2,
        { case Seq(a, b) => SortedIntersectCount(a, b) }),
      fn("graft_word_bigrams", "sorted distinct word-bigram shingles of a string", 1,
        { case Seq(c) => TextSignatures.WordBigrams(c) }),
      fn("graft_char_trigrams", "sorted distinct char trigrams of a string", 1,
        { case Seq(c) => TextSignatures.CharTrigrams(c) }),
      fn("graft_simhash32", "32-bit TF-weighted SimHash of a string", 1,
        { case Seq(c) => TextSignatures.SimHash32(c) }),
      fn("graft_hash_embed8", "8-dim md5-bucket hashing embedding of a string", 1,
        { case Seq(c) => TextSignatures.HashEmbed8(c) }),
      fn("graft_nfc", "Unicode NFC canonical composition of a string", 1,
        { case Seq(c) => TextSignatures.NfcNormalize(c) }),
      fn("graft_bpe_merge", "apply one BPE merge (a,b)->'a_b' to a space-tokenized string", 3,
        { case Seq(t, a, b) => TextSignatures.BpeMergeApply(t, a, b) }),
      fn("graft_word_ngram_hashes", "sorted distinct FNV64 word n-gram hashes (n = int literal)", 2,
        { case Seq(c, n) => TextSignatures.WordNgramHashes(c, intLit("graft_word_ngram_hashes", n)) }),
      fn("graft_word_ngram_pos_hashes", "per-offset FNV64 word n-gram hashes, slot i = gram at token i+1 (n = int literal)", 2,
        { case Seq(c, n) => TextSignatures.WordNgramPosHashes(c, intLit("graft_word_ngram_pos_hashes", n)) })
    ).foreach(ext.injectFunction)
  }
}
