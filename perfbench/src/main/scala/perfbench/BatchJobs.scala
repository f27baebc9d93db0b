package perfbench

import org.apache.spark.sql.functions.col

import graft.operators.{LlmQueries, StateTable}
import graft.plans.PlanPipeline

/** The reference's refresh: `PlanPipeline.groupEntities` over generated
  * `plan_groups` (masks using bits 31 and 63), published with
  * `StateTable.publish` into `stateDir`. Every published entity is
  * checked against an independent decode of its mask. */
final class PlanRefresh(ctx: Ctx, root: String, nGroups: Int, stream: Long) {
  import ctx.spark
  import spark.implicits._

  val stateDir = s"$root/group_entities"
  val plansPath = s"$root/input/plans"
  val masks: Array[Long] = Plans.masks(ctx.gen, stream, nGroups)

  def writeInputs(): Unit = {
    masks.toSeq.zipWithIndex.map { case (m, i) => (i + 1L, s"g${i + 1}", m) }
      .toDF("gid", "gtitle", "mask").write.parquet(s"$root/input/plan_groups")
    Plans.Bits.map(b => (Plans.id(b), Plans.title(b), s"opt-${Plans.title(b)}"))
      .toDF("id", "title", "optional").write.parquet(plansPath)
  }

  def run(ops: Ops): Unit =
    ops.op("refresh") {
      ctx.tracer.span("plans.refresh") {
        val entities = PlanPipeline.groupEntities(
          spark.read.parquet(plansPath), spark.read.parquet(s"$root/input/plan_groups"))
        ctx.tracer.span("state.publish")(StateTable.publish(entities, stateDir))
      }
    } { _ =>
      val it = StateTable.read(spark, stateDir)
        .select(col("gid"), col("n_plans"), col("plan_titles")).toLocalIterator()
      var n = 0
      val wrong = Seq.newBuilder[String]
      while (it.hasNext) {
        val r = it.next()
        val gid = r.getLong(0)
        val want = Plans.decode(masks((gid - 1).toInt))
        if ((r.getLong(1), r.getString(2)) != want) wrong += s"group $gid: ${r.getString(2)} != $want"
        n += 1
      }
      val bad = wrong.result()
      (if (n == nGroups) Nil else Seq(s"$n entities, want $nGroups")) ++ bad.take(3) ++
        (if (bad.size > 3) Seq(s"${bad.size} wrong entities") else Nil)
    }

  def layers(idx: SpanIndex): Seq[Metric] = {
    def per(f: Span => Double): Double = Layers.perCall(idx, "plans.refresh")(f)
    Seq(
      Metric("state.publish_s", Layers.s(idx, "state.publish"), "s"),
      Metric("plans.refresh.jobs", Layers.jobs(idx, "plans.refresh"), "count"),
      Metric("plans.refresh.task_cpu_s", per(idx.cpuS), "s"),
      Metric("plans.refresh.shuffle_write_mb", per(idx.shuffleWriteMb), "MB"),
      Metric("plans.refresh.spill_mb", per(idx.spillMb), "MB"),
      Metric("plans.refresh.gap_s", per(idx.gapS), "s"))
  }
}

/** The pretraining near-dup pipeline (l28, `LlmQueries
  * .l28PipelineNearDup`) over a generated `documents` table with
  * planted exact and near copies; its output rows are checked against
  * the truth [[PipelineInput]] derives from how the table was built. */
final class NearDupPipeline(ctx: Ctx, root: String, nDocs: Int) {
  import ctx.spark
  import spark.implicits._

  private val tablesDir = s"$root/tables"
  private val input = new PipelineInput(ctx.gen, nDocs)

  def writeInputs(): Unit =
    input.docs.toSeq.map(d => (d.id, d.text, d.source)).toDF("doc_id", "text", "source")
      .write.parquet(s"$tablesDir/documents.parquet")

  def run(ops: Ops): Unit =
    ops.op("pipeline") {
      ctx.tracer.span("llm.pipeline") {
        LlmQueries.l28PipelineNearDup.run(spark, tablesDir).collect()
          .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
      }
    } { got =>
      if (got == input.expected) Nil else Seq(s"pipeline rows $got != ${input.expected}")
    }

  def layers(idx: SpanIndex): Seq[Metric] = {
    def per(f: Span => Double): Double = Layers.perCall(idx, "llm.pipeline")(f)
    Seq(
      Metric("llm.pipeline.jobs", Layers.jobs(idx, "llm.pipeline"), "count"),
      Metric("llm.pipeline.stages", per(s => idx.stages(s).toDouble), "count"),
      Metric("llm.pipeline.tasks", Layers.tasks(idx, "llm.pipeline"), "count"),
      Metric("llm.pipeline.task_cpu_s", per(idx.cpuS), "s"),
      Metric("llm.pipeline.shuffle_write_mb", per(idx.shuffleWriteMb), "MB"),
      Metric("llm.pipeline.spill_mb", per(idx.spillMb), "MB"),
      Metric("llm.pipeline.gc_s", per(idx.gcS), "s"),
      Metric("llm.pipeline.in_jobs_s", per(idx.inJobsS), "s"),
      Metric("llm.pipeline.gap_s", per(idx.gapS), "s"))
  }
}
