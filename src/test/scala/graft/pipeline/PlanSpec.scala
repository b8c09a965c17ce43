package graft.pipeline

import graft.SparkTestBase
import graft.gen.InputTable
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Physical-plan assertions — the `.explain` discipline as tests: the
  * optimizations the pipeline claims must be visible in the plan, not just
  * intended (task brief: "iterate until it's the plan you'd want"). */
class PlanSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  lazy val tableDir: String = {
    val d = Files.createTempDirectory("plan-input").toString
    InputTable.generate(spark, 60L, seed = 3L).write.mode("overwrite").parquet(d)
    d
  }

  private def formattedPlan(df: org.apache.spark.sql.DataFrame): String = {
    import org.apache.spark.sql.execution.debug._
    df.queryExecution.executedPlan.toString()
  }

  test("url/lang filters push down to the parquet scan") {
    val df = spark.read.parquet(tableDir)
      .filter(col("lang") === "en" && col("warc_ts") > "2024-01-01")
    val scan = df.queryExecution.executedPlan.toString()
    assert(scan.contains("PushedFilters"), scan)
    assert(scan.contains("IsNotNull(lang)") || scan.contains("EqualTo(lang,en)"), scan)
  }

  test("column pruning: selecting url+lang reads only those columns") {
    val df = spark.read.parquet(tableDir).select("url", "lang")
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.contains("ReadSchema"))
    assert(!plan.contains("html"), "payload column must be pruned from the scan")
  }

  test("default extraction plan has ZERO exchanges (map-only)") {
    val out = ExtractPipeline.run(spark.read.parquet(tableDir))
    val plan = out.queryExecution.executedPlan.toString()
    assert(!plan.contains("Exchange"), s"unexpected shuffle in:\n$plan")
  }

  test("extraction scan prunes the unused text/warc_ts columns") {
    val out = ExtractPipeline.run(spark.read.parquet(tableDir))
    val plan = out.queryExecution.executedPlan.toString()
    val readSchema = "ReadSchema: [^\\n]+".r.findFirstIn(plan).getOrElse("")
    assert(readSchema.nonEmpty, plan)
    assert(!readSchema.contains("text") && !readSchema.contains("warc_ts"),
      s"scan should read only url/html/lang: $readSchema")
    assert(readSchema.contains("html") && readSchema.contains("url"), readSchema)
  }

  test("spreadPages topology has one document exchange on url, no aggregate") {
    val out = ExtractPipeline.run(spark.read.parquet(tableDir), spreadPages = true)
    val plan = out.queryExecution.executedPlan.toString()
    val exchanges = "Exchange hashpartitioning\\(([^,]+)".r.findAllMatchIn(plan).map(_.group(1)).toList
    assert(exchanges.length == 1, s"expected 1 hash exchange, got ${exchanges.length}:\n$plan")
    assert(exchanges.head.startsWith("url#"), s"expected the exchange on url:\n$plan")
    // "HashAggregate" also matches ObjectHashAggregate
    assert(!plan.contains("HashAggregate") && !plan.contains("SortAggregate"),
      s"unexpected aggregate in:\n$plan")
  }

  test("map-only curation ops have ZERO exchanges: c4LineFilter, dedupLinesWithinDoc, assignSplit") {
    import spark.implicits._
    val docs = Seq((1L, "Line one is long enough here.\nshort"),
      (2L, "alpha\nalpha\nbeta")).toDF("doc_id", "text")
    Seq(
      graft.ops.TextOps.c4LineFilter(docs, "doc_id", "text"),
      graft.ops.TextOps.dedupLinesWithinDoc(docs, "doc_id", "text"),
      graft.ops.TextOps.assignSplit(docs, "doc_id",
        Seq("train" -> 990000L, "test" -> 10000L))
    ).foreach { df =>
      val plan = df.queryExecution.executedPlan.toString()
      assert(!plan.contains("Exchange"), s"unexpected shuffle in:\n$plan")
    }
  }

  test("anchorSummary: hash aggregations only — no window, no sort-merge over raw anchors") {
    import spark.implicits._
    val anchors = Seq(("https://a.example/1", "https://t.example/p", "home"))
      .toDF("src", "dst", "anchor")
    val plan = graft.ops.LinkOps.anchorSummary(anchors)
      .queryExecution.executedPlan.toString()
    assert(!plan.contains("Window"), s"per-dst window would single-task hot targets:\n$plan")
    assert(plan.contains("HashAggregate"), plan)
  }

  test("dimension joins broadcast (no sort-merge join for small dims)") {
    val q = graft.Queries.all("q_broadcast_join")(spark, "/root/testdata/sf0.001")
    val plan = q.queryExecution.executedPlan.toString()
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("IVF assignment is map-side: no cross join, no corpus-side exchange") {
    val embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = embs.filter(col("vec_id") < 4)
    val q = graft.ops.SimilarityOps.ivfTopK(embs, queries, "vec_id", "embedding",
      k = 3, nlist = 8, nprobe = 2)
    val plan = q.queryExecution.executedPlan.toString()
    // round-1 plan: crossJoin(centroids) blew the corpus up ×nlist and
    // shuffled it through a row_number window just to compute an argmax
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoop"), plan)
    // the only hash exchange left is the per-query top-k window; the
    // corpus reaches the probe join via projection + broadcast only
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges <= 1, s"expected <=1 hash exchange, got $exchanges:\n$plan")
  }

  test("relational stages run inside WholeStageCodegen") {
    val q = graft.Queries.all("q_agg_pushdown")(spark, "/root/testdata/sf0.001")
    q.collect() // finalize the AQE plan — codegen spans appear post-execution
    val plan = q.queryExecution.executedPlan.toString()
    // WholeStageCodegen spans print as "*(n) Operator" in the final plan
    assert(plan.contains("*(") || plan.contains("WholeStageCodegen"), plan)
  }
}
