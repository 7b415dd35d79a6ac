package graft

import org.apache.spark.sql.catalyst.expressions.{RegExpReplace, SpecifiedWindowFrame, UnboundedFollowing, UnboundedPreceding}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.window.WindowExec
import org.scalatest.funsuite.AnyFunSuite

/** Plan traversal that descends through AQE wrappers, query stages and
  * subqueries. */
private object PlanWalk extends AdaptiveSparkPlanHelper

/** Automated no-scale-killer sweep: every batch query's PHYSICAL plan
  * is linted, not eyeballed.
  *
  * Lint 1 — no `CartesianProductExec`, ever: every intentional
  * `crossJoin` in the repo broadcasts a 1-row aggregate or a ≤150-row
  * frame and therefore plans as `BroadcastNestedLoopJoin`; a
  * `CartesianProduct` appearing in any plan means a join key was
  * dropped or a broadcast hint lost — the regression that is invisible
  * at sf0.001 and fatal at 100 TB.
  *
  * Lint 2 — plan fingerprints: for each query, the MULTISET of
  * scale-relevant physical operators (joins by strategy, shuffle /
  * broadcast exchanges, windows, aggregates, sorts, generates) is
  * compared against the committed `docs/PLAN_FINGERPRINTS.json`. A
  * silent SortMergeJoin where a BroadcastHashJoin used to be, or an
  * extra Exchange from a refactor, fails the suite with a per-query
  * diff. Regenerate after an INTENTIONAL plan change with:
  *   SPARK_GRAFT_REGEN_FINGERPRINTS=1 sbt 'testOnly graft.PlanLintSpec'
  * and review the JSON diff like any other code change. Only operator
  * COUNTS are pinned (not partition counts or stats), so the
  * fingerprint is stable across shuffle-partition settings and hosts.
  *
  * Streaming queries are excluded (their builders run real
  * micro-batch streams against checkpoint dirs; their plan shapes are
  * pinned by their own specs and stage-attributed in the bench).
  * Builders that execute eagerly (index ensure-built, iterative graph
  * probes) still yield a lintable terminal plan — the lint covers the
  * frame each query RETURNS, the one the driver materializes.
  */
class PlanLintSpec extends AnyFunSuite with SharedSession {

  private val sfDir = "/root/testdata/sf0.001"
  private val fpPath = java.nio.file.Paths.get("docs", "PLAN_FINGERPRINTS.json")

  /** The operator classes whose counts define a query's fingerprint —
    * the ones that decide whether a plan survives a 100× scale-up.
    * Deliberately NOT the full node list: codegen wrapping, reuse
    * markers, and scan details may shift across Spark patch versions
    * without changing the distribution story.
    */
  private val tracked: Set[String] = Set(
    "CartesianProduct",
    "SortMergeJoin",
    "ShuffledHashJoin",
    "BroadcastHashJoin",
    "BroadcastNestedLoopJoin",
    "Exchange",
    "BroadcastExchange",
    "Window",
    "WindowGroupLimit",
    "HashAggregate",
    "ObjectHashAggregate",
    "SortAggregate",
    "Sort",
    "Generate",
    "Expand",
    "TakeOrderedAndProject")

  private lazy val plansAndGuards
      : Seq[(String, SparkPlan, Seq[graft.operators.Guards.Decision])] = {
    assume(new java.io.File(sfDir).isDirectory, s"$sfDir missing")
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filterNot(_._1.startsWith("q_stream_"))
      .map { case (name, fn) =>
        graft.operators.Guards.clear()
        val plan = fn(spark, sfDir).queryExecution.executedPlan
        (name, plan,
          graft.operators.Guards.drain()
            .sortBy(d => (d.site, d.n, d.decision)))
      }
  }

  private lazy val plans: Seq[(String, String)] =
    plansAndGuards.map(t => (t._1, t._2.toString))

  /** Counts tracked operator tokens in the plan TREE STRING — the one
    * rendering that descends through AQE wrappers, reused subtrees and
    * query stages uniformly (AdaptiveSparkPlanExec exposes no children
    * to an object walk). A node line prints as tree art + optional
    * codegen star + the operator name: `  +- *(3) HashAggregate(...`.
    */
  private def fingerprint(plan: String): Map[String, Int] = {
    val node = """^[\s:+\-]*(?:\*\(\d+\)\s*)?([A-Za-z]+)""".r
    plan.linesIterator.flatMap { line =>
      node.findFirstMatchIn(line).map(_.group(1)).filter(tracked)
    }.toSeq.groupBy(identity).view.mapValues(_.size).toMap
  }

  test("no batch query plans a CartesianProduct") {
    val offenders = plans.flatMap { case (name, s) =>
      if (s.contains("CartesianProduct")) Some(name -> s) else None
    }
    assert(offenders.isEmpty,
      s"CartesianProduct in: ${offenders.map(_._1).mkString(", ")}\n" +
        offenders.headOption.map(_._2).getOrElse(""))
  }

  test("plan fingerprints match docs/PLAN_FINGERPRINTS.json") {
    val got: Map[String, Map[String, Int]] =
      plans.map { case (n, p) => n -> fingerprint(p) }.toMap
    def render(fps: Map[String, Map[String, Int]]): String = {
      val qs = fps.toSeq.sortBy(_._1).map { case (q, fp) =>
        val ops = fp.toSeq.sorted.map { case (k, v) => s"""      "$k": $v""" }
          .mkString(",\n")
        s"""  "$q": {\n$ops\n  }""".replace("{\n\n  }", "{}")
      }
      qs.mkString("{\n", ",\n", "\n}\n")
    }
    if (sys.env.contains("SPARK_GRAFT_REGEN_FINGERPRINTS")) {
      java.nio.file.Files.createDirectories(fpPath.getParent)
      java.nio.file.Files.write(fpPath, render(got).getBytes("UTF-8"))
      info(s"regenerated $fpPath with ${got.size} fingerprints")
    } else {
      assert(java.nio.file.Files.exists(fpPath),
        s"$fpPath missing — regenerate with SPARK_GRAFT_REGEN_FINGERPRINTS=1")
      // tiny line-oriented parser for the file this test itself writes:
      //   "q_name": {            → new query
      //     "OperatorExec": 3,?  → op count
      val want = scala.collection.mutable.Map.empty[String, Map[String, Int]]
      var cur: String = null
      var ops = scala.collection.mutable.Map.empty[String, Int]
      val qLine = """^\s*"(q_[a-z_0-9]+)":\s*\{\}?,?\s*$""".r
      val opLine = """^\s*"([A-Za-z]+)":\s*(\d+),?\s*$""".r
      scala.io.Source.fromFile(fpPath.toFile).getLines().foreach {
        case qLine(q) =>
          if (cur != null) want(cur) = ops.toMap
          cur = q; ops = scala.collection.mutable.Map.empty
        case opLine(k, v) => ops(k) = v.toInt
        case _ => // braces / blank
      }
      if (cur != null) want(cur) = ops.toMap
      val missing = got.keySet -- want.keySet
      val stale = want.keySet -- got.keySet
      val drifted = got.keySet.intersect(want.keySet).toSeq.sorted.flatMap { q =>
        if (got(q) != want(q)) {
          val keys = (got(q).keySet ++ want(q).keySet).toSeq.sorted
          val diff = keys.flatMap { k =>
            val (g, w) = (got(q).getOrElse(k, 0), want(q).getOrElse(k, 0))
            if (g != w) Some(s"$k: $w -> $g") else None
          }
          Some(s"$q { ${diff.mkString(", ")} }")
        } else None
      }
      assert(missing.isEmpty && stale.isEmpty && drifted.isEmpty,
        s"""plan fingerprint drift — review, then regenerate with
           |SPARK_GRAFT_REGEN_FINGERPRINTS=1 sbt 'testOnly graft.PlanLintSpec'
           |new queries without a committed fingerprint: ${missing.toSeq.sorted.mkString(", ")}
           |committed fingerprints with no query: ${stale.toSeq.sorted.mkString(", ")}
           |drifted: ${drifted.mkString("\n  ", "\n  ", "")}""".stripMargin)
    }
  }

  /** Lint 3 (round-13 verdict #5) — runtime size-guard decisions: the
    * broadcast-vs-shuffled-hash guards decide join strategy from a
    * real count at query-build time, which makes each decision a plan
    * input the static fingerprint cannot see (an edit that changes the
    * counted frame silently flips bench-scale plans). Every guard's
    * (site, n, decision) — and the adaptive LSH widths — recorded
    * while building each query at sf0.001 is pinned in
    * `docs/GUARD_DECISIONS.json`; a changed decision fails here the
    * way a lost broadcast already fails Lint 2. Same regen flag.
    */
  test("size-guard decisions match docs/GUARD_DECISIONS.json") {
    val gdPath = java.nio.file.Paths.get("docs", "GUARD_DECISIONS.json")
    val got: Seq[(String, Seq[graft.operators.Guards.Decision])] =
      plansAndGuards.collect { case (q, _, ds) if ds.nonEmpty => q -> ds }
    def render(rows: Seq[(String, Seq[graft.operators.Guards.Decision])]): String =
      rows.map { case (q, ds) =>
        val lines = ds.map(d =>
          s"""    {"site": "${d.site}", "n": ${d.n}, "decision": "${d.decision}"}""")
        s"""  "$q": [\n${lines.mkString(",\n")}\n  ]"""
      }.mkString("{\n", ",\n", "\n}\n")
    if (sys.env.contains("SPARK_GRAFT_REGEN_FINGERPRINTS")) {
      java.nio.file.Files.createDirectories(gdPath.getParent)
      java.nio.file.Files.write(gdPath, render(got).getBytes("UTF-8"))
      info(s"regenerated $gdPath with ${got.size} guarded queries")
    } else {
      assert(java.nio.file.Files.exists(gdPath),
        s"$gdPath missing — regenerate with SPARK_GRAFT_REGEN_FINGERPRINTS=1")
      val want = new String(
        java.nio.file.Files.readAllBytes(gdPath), "UTF-8")
      assert(render(got) === want,
        s"""size-guard decision drift — a guard's counted frame, threshold,
           |or adaptive width changed. Review like a plan change, then
           |regenerate with SPARK_GRAFT_REGEN_FINGERPRINTS=1
           |sbt 'testOnly graft.PlanLintSpec'""".stripMargin)
    }
  }

  /** Lint 4 — no quadratic window frame: Spark evaluates a ROWS or
    * RANGE frame that ends at UNBOUNDED FOLLOWING but starts anywhere
    * except UNBOUNDED PRECEDING by re-aggregating the rest of the
    * partition for every row, O(n²) per window partition. "First
    * non-null at or after" is a running `last` over the mirrored order
    * (`Fill.bfill`). Walks every batch query's physical plan — through
    * AQE wrappers and subqueries — plus `transformBars`, the bar
    * pipeline the daily load runs outside the query set.
    */
  test("no window frame runs from a bounded start to UNBOUNDED FOLLOWING") {
    import spark.implicits._
    val bars = Seq(("A", "2024-03-10 09:30:00", "1.5", null, "7"),
        ("A", "2024-03-10 09:31:00", null, "2.5", null))
      .toDF("symbol", "timestamp", "open", "close", "volume")
    val walked = plansAndGuards.map(t => (t._1, t._2)) :+
      ("transformBars" -> graft.operators.Transforms.transformBars(bars)
        .queryExecution.executedPlan)
    val offenders = walked.flatMap { case (name, plan) =>
      PlanWalk.collectWithSubqueries(plan) { case w: WindowExec => w }
        .flatMap(_.windowExpression.flatMap(_.collect {
          case SpecifiedWindowFrame(_, lower, UnboundedFollowing)
              if lower != UnboundedPreceding => s"$name: ${lower.sql}"
        }))
    }
    assert(offenders.isEmpty,
      s"frames ending at UNBOUNDED FOLLOWING from a bounded start:\n  " +
        offenders.distinct.mkString("\n  "))
  }

  /** Lint 5 — the daily load cleans text with one native expression
    * (`CleanText`), not a chain of regex passes: no `regexp_replace` may
    * reappear in the plans of the queries that clean text or of the two
    * transforms the daily load runs. */
  test("text cleaning plans carry no RegExpReplace") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, regexp_replace}
    // repartition keeps the optimizer from folding projections over the
    // local rows into a LocalTableScan, which would hide any expression
    val news = Seq(("u1", "<b>T</b>", "body http://x", "d", "2024-01-01 00:00:00", "a"))
      .toDF("url", "title", "content", "description", "publishedAt", "author")
      .repartition(1)
    val posts = Seq(("r1", "s", "t", "b", 1L, 1L, true, "p1", 1.7e9, "2024-01-01 00:00:00"))
      .toDF("reddit_id", "subreddit", "title", "selftext", "score",
        "num_comments", "is_text_post", "permalink", "published_at",
        "article_published_at")
      .repartition(1)
    val queries = Set("q_clean_text", "q_pipeline_news", "q_pipeline_posts")
    val walked = plansAndGuards.collect {
      case (name, plan, _) if queries(name) => (name, plan)
    } ++ Seq(
      "transformNews" -> graft.operators.Transforms.transformNews(news, col("url")),
      "transformPosts" -> graft.operators.Transforms.transformPosts(posts, col("reddit_id"))
    ).map { case (n, df) => (n, df.queryExecution.executedPlan) }
    assert(walked.map(_._1).toSet === queries ++ Set("transformNews", "transformPosts"))
    def hasRegex(plan: SparkPlan): Boolean =
      PlanWalk.collectWithSubqueries(plan) { case p => p }
        .exists(_.expressions.exists(_.exists(_.isInstanceOf[RegExpReplace])))
    // the walk must see a regexp_replace where there is one
    assert(hasRegex(news.select(regexp_replace(col("title"), "<", ""))
      .queryExecution.executedPlan))
    val offenders = walked.filter { case (_, plan) => hasRegex(plan) }.map(_._1)
    assert(offenders.isEmpty, s"RegExpReplace in: ${offenders.mkString(", ")}")
  }
}
