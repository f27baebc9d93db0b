package perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, countDistinct}

import graft.operators.{AnnStore, DedupIndex, ManifestCommit, Similarity}

/** `ingest`: one writer runs back-to-back micro-batches against the
  * dedup index and the PQ index. Each batch checks the exactly-once
  * stamps, probes the dedup index, appends the survivors and the
  * batch's vectors with the batch id and runs one read-after-write
  * probe; then odd batches compact and vacuum both tiers and even
  * batches delete a slice of earlier ids from both (the warm-up is
  * batch 1, so an untraced window's single batch deletes from a
  * freshly compacted index). Each
  * timed window redelivers one batch, which must be skipped. Set-up
  * runs the pretraining near-dup pipeline ([[NearDupPipeline]]) before
  * the base tiers are built. */
final class Ingest(ctx: Ctx) extends Workload {
  import Ingest._
  import ctx.spark
  import spark.implicits._

  val name = "ingest"
  private val nBaseDocs = ctx.size(5000, 1000)
  private val nBaseVecs = ctx.size(2000, 1000)
  private val BatchDocs = ctx.size(500, 100)
  private val Planted = BatchDocs / 5
  private val BatchVecs = BatchDocs
  private val Deleted = BatchDocs / 10
  private val Dim = 64

  private val root = s"${ctx.work}/ingest"
  private val dixDir = s"$root/dix"
  private val pqDir = s"$root/pq"
  private val exactDir = s"$root/input/vectors"
  private val pipeline = new NearDupPipeline(ctx, root, ctx.size(2000, 1000))

  // the benchmark's model of what each tier holds
  private val liveDocs = mutable.ArrayBuffer.empty[Doc]
  private val liveVecs = mutable.ArrayBuffer.empty[Long]
  private var nextDoc = 1L
  private var nextVec = 1L
  private var batchNo = 0L
  private var lastBatch: Batch = _
  private val segmentsSeen = mutable.ArrayBuffer.empty[Double]
  private val versionDeltas = mutable.ArrayBuffer.empty[Double]
  private var claimsLost0 = 0L

  def setup(ops: Ops): Unit = {
    val g = ctx.gen
    Step("ingest pipeline") {
      pipeline.writeInputs()
      pipeline.run(ops)
    }
    val base = g.freshDocs(g.rng(20), nextDoc, nBaseDocs)
    nextDoc += nBaseDocs
    val vecs = g.vectors(g.rng(21), nextVec, nBaseVecs, Dim)
    nextVec += nBaseVecs
    Step("ingest inputs") {
      base.toSeq.map(d => (d.id, d.text)).toDF("doc_id", "text").write.parquet(s"$root/input/docs")
      vecs.toSeq.map(v => (v.id, v.values)).toDF("vec_id", "embedding").write.parquet(exactDir)
    }
    Step("ingest dedup index") {
      DedupIndex.build(spark.read.parquet(s"$root/input/docs"), "doc_id", "text", dixDir)
    }
    Step("ingest pq index")(Similarity.buildPqIndex(spark.read.parquet(exactDir), pqDir))
    liveDocs ++= base
    liveVecs ++= vecs.map(_.id)
  }

  /** Batch `b`: copies (half exact, half near) of live docs, which the
    * probe must drop, and fresh docs, which survive; fresh vectors. */
  private def makeBatch(): Batch = {
    batchNo += 1
    val r = ctx.gen.rng(1000 + batchNo)
    val planted = (0 until Planted).map { i =>
      val src = liveDocs(r.nextInt(liveDocs.size))
      val text = if (i % 2 == 0) src.text else ctx.gen.nearCopy(r, src.text)
      Doc(nextDoc + i, text, src.source, src.family)
    }
    val fresh = ctx.gen.freshDocs(r, nextDoc + Planted, BatchDocs - Planted).toSeq
    nextDoc += BatchDocs
    val vecs = ctx.gen.vectors(r, nextVec, BatchVecs, Dim).toSeq
    nextVec += BatchVecs
    Batch(batchNo, planted ++ fresh, vecs, fresh.map(_.id).toSet)
  }

  private def versions: Long =
    ManifestCommit.currentVersion(dixDir) + ManifestCommit.currentVersion(pqDir)

  /** Hand a batch to the tiers: from hand-over until both commits are
    * visible. */
  private def commit(b: Batch, docsDf: DataFrame, vecsDf: DataFrame): Outcome = {
    val tr = ctx.tracer
    tr.span("ingest.batch") {
      val skipped = tr.span("ingest.stamp") {
        DedupIndex.lastBatchId(dixDir).exists(_ >= b.id) ||
          AnnStore.lastBatchId(pqDir).exists(_ >= b.id)
      }
      if (skipped) Outcome(skipped = true, Set.empty, (None, None))
      else {
        segmentsSeen += DedupIndex.readManifest(dixDir).segments.size
        val q = tr.span("dix.query.build")(DedupIndex.query(docsDf, "doc_id", "text", dixDir))
        val survivors = tr.span("dix.query.exec") {
          q.select(col("doc_id")).collect().map(_.getLong(0)).toSet
        }
        tr.span("dix.append") {
          DedupIndex.append(docsDf.where(col("doc_id").isin(survivors.toSeq: _*)),
            "doc_id", "text", dixDir, Some(b.id))
        }
        tr.span("ann.pq.append")(Similarity.appendToPqIndex(vecsDf, pqDir, Some(b.id)))
        val stamps = tr.span("ingest.stamp") {
          (DedupIndex.lastBatchId(dixDir), AnnStore.lastBatchId(pqDir))
        }
        Outcome(skipped = false, survivors, stamps)
      }
    }
  }

  private def frames(b: Batch): (DataFrame, DataFrame) =
    (b.docs.map(d => (d.id, d.text)).toDF("doc_id", "text"),
      b.vecs.map(v => (v.id, v.values)).toDF("vec_id", "embedding"))

  private def runBatch(ops: Ops): Unit = {
    val b = makeBatch()
    val (docsDf, vecsDf) = frames(b)
    val v0 = versions
    ops.op("commit")(ctx.tracer.request(b.id)(commit(b, docsDf, vecsDf))) { o =>
      versionDeltas += (versions - v0).toDouble
      Seq(
        if (!o.skipped) None else Some(s"batch ${b.id} skipped as redelivered"),
        if (o.survivors == b.fresh) None
        else Some(s"batch ${b.id}: ${o.survivors.size} survivors, want ${b.fresh.size}"),
        if (o.stamps == (Some(b.id), Some(b.id))) None
        else Some(s"batch ${b.id} stamps ${o.stamps}")).flatten
    }
    liveDocs ++= b.docs.filter(d => b.fresh(d.id))
    liveVecs ++= b.vecs.map(_.id)
    lastBatch = b
    readAfterWrite(b, ops)
    if (b.id % 2 == 0) delete(b, ops) else compact(ops)
  }

  /** Redeliver the last batch: it must be skipped and claim no version. */
  private def redeliver(ops: Ops): Unit = {
    val b = lastBatch
    val (docsDf, vecsDf) = frames(b)
    val v0 = versions
    ops.op("redelivery")(ctx.tracer.request(b.id)(commit(b, docsDf, vecsDf))) { o =>
      val v1 = versions
      Seq(
        if (o.skipped) None else Some(s"redelivered batch ${b.id} was applied again"),
        if (v1 == v0) None else Some(s"redelivery moved versions $v0 -> $v1")).flatten
    }
  }

  private def takeRandom[T](from: mutable.ArrayBuffer[T], n: Int, seed: Long): Seq[T] = {
    val r = ctx.gen.rng(seed)
    (0 until n).map { _ =>
      val i = r.nextInt(from.size)
      val x = from(i)
      from(i) = from.last
      from.remove(from.size - 1)
      x
    }
  }

  private def delete(b: Batch, ops: Ops): Unit = {
    val docs = takeRandom(liveDocs, Deleted, 2000 + b.id).map(_.id)
    val vecs = takeRandom(liveVecs, Deleted, 3000 + b.id)
    ops.op("delete") {
      ctx.tracer.request(b.id) {
        ctx.tracer.span("ingest.maintenance") {
          ctx.tracer.span("dix.delete") {
            DedupIndex.delete(docs.toDF("doc_id"), "doc_id", dixDir)
          }
          ctx.tracer.span("ann.delete") {
            Similarity.deleteFromIvfIndex(vecs.toDF("vec_id"), pqDir).collect()
          }
        }
      }
    }(removed =>
      if (removed.map(_.getLong(1)).sum == Deleted) Nil
      else Seq(s"ANN delete removed ${removed.map(_.getLong(1)).sum}, want $Deleted"))
  }

  private def compact(ops: Ops): Unit =
    ops.op("compact") {
      ctx.tracer.span("ingest.maintenance") {
        ctx.tracer.span("dix.compact")(DedupIndex.compact(spark, dixDir))
        ctx.tracer.span("ann.compact")(Similarity.compactIvfIndex(spark, pqDir))
        ctx.tracer.span("store.vacuum") {
          DedupIndex.vacuum(dixDir, minAgeMs = 0L)
          AnnStore.vacuum(pqDir, minAgeMs = 0L)
        }
      }
    }(_ => Nil)

  /** Right after a commit, a near copy of one of the batch's survivors
    * must be dropped: the probe plans against the new generation. */
  private def readAfterWrite(b: Batch, ops: Ops): Unit = {
    val r = ctx.gen.rng(4000 + b.id)
    val src = b.docs.filter(d => b.fresh(d.id))(r.nextInt(b.fresh.size))
    val copyId = nextDoc
    val freshId = nextDoc + 1
    nextDoc += 2
    val probe = Seq((copyId, ctx.gen.nearCopy(r, src.text)), (freshId, ctx.gen.freshText(r)))
      .toDF("doc_id", "text")
    ops.op("raw") {
      ctx.tracer.request(b.id) {
        ctx.tracer.span("ingest.raw") {
          val q = ctx.tracer.span("dix.query.build")(DedupIndex.query(probe, "doc_id", "text", dixDir))
          ctx.tracer.span("dix.query.exec") {
            q.select(col("doc_id")).collect().map(_.getLong(0)).toSet
          }
        }
      }
    }(survivors =>
      if (survivors == Set(freshId)) Nil
      else Seq(s"read-after-write probe survivors $survivors, want $freshId"))
  }

  def warmup(ops: Ops): Unit = runBatch(ops)

  /** A traced window runs at least two batches, so that it records a
    * compaction as well as a delete. */
  def window(seconds: Double, ops: Ops, traced: Boolean): Unit = {
    // per-layer gauges describe the latest window
    segmentsSeen.clear()
    versionDeltas.clear()
    claimsLost0 = ManifestCommit.metrics.get("claims_lost")
    Window.loop(ops, seconds, if (traced) 2 else 1) { first =>
      runBatch(ops)
      if (first) redeliver(ops)
    }
  }

  private var storeBytes = 0L
  private var storeFiles = 0L

  /** Check that both tiers hold exactly the live docs and vectors of
    * the model, and measure their size on disk. */
  override def finish(ops: Ops): Unit = {
    ops.check("invariants") {
      val bands = DedupIndex.readBands(spark, dixDir)
        .agg(org.apache.spark.sql.functions.count("*"), countDistinct(col("doc_id"))).head()
      val postings = AnnStore.postings(spark, pqDir).count()
      Seq(
        if (bands.getLong(0) == 8L * liveDocs.size) None
        else Some(s"${bands.getLong(0)} band rows for ${liveDocs.size} live docs"),
        if (bands.getLong(1) == liveDocs.size) None
        else Some(s"${bands.getLong(1)} indexed docs, ${liveDocs.size} live"),
        if (postings == liveVecs.size) None
        else Some(s"$postings postings for ${liveVecs.size} live vectors")).flatten
    }
    storeBytes = Files.bytes(dixDir) + Files.bytes(pqDir)
    storeFiles = Files.dataFiles(dixDir).size + Files.dataFiles(pqDir).size
  }

  private def docsPerS(ops: Ops): Double = ops.ms("commit").size * BatchDocs / ops.wallS

  def endToEnd(ops: Ops): Seq[Metric] = Seq(
    Metric("throughput_per_s", docsPerS(ops), "1/s"),
    Metric("latency_ms", Stats.median(ops.ms("commit")), "ms"))

  def report(setup: Ops, ops: Ops): Seq[Metric] = Seq(
    Metric("pipeline_s", Stats.median(setup.ms("pipeline")) / 1e3, "s"),
    Metric("ingest_docs_per_s", docsPerS(ops), "1/s"),
    Metric("commit_p50_s", Stats.median(ops.ms("commit")) / 1e3, "s"),
    Metric("raw_p50_ms", Stats.median(ops.ms("raw")), "ms"),
    Metric("store_bytes_per_doc", storeBytes.toDouble / liveDocs.size, "B"))

  def layers(ops: Ops, idx: SpanIndex): Seq[Metric] = Seq(
    Metric("dix.segments", Stats.mean(segmentsSeen.toSeq), "count"),
    Metric("dix.append_ms", Layers.ms(idx, "dix.append"), "ms"),
    Metric("dix.append_jobs", Layers.jobs(idx, "dix.append"), "count"),
    Metric("dix.delete_ms", Layers.ms(idx, "dix.delete"), "ms"),
    Metric("dix.compact_s", Layers.s(idx, "dix.compact"), "s"),
    Metric("ann.pq.append_ms", Layers.ms(idx, "ann.pq.append"), "ms"),
    Metric("ann.pq.append_jobs", Layers.jobs(idx, "ann.pq.append"), "count"),
    Metric("ann.pq.append_tasks", Layers.tasks(idx, "ann.pq.append"), "count"),
    Metric("ann.delete_ms", Layers.ms(idx, "ann.delete"), "ms"),
    Metric("ann.compact_s", Layers.s(idx, "ann.compact"), "s"),
    Metric("commit.versions_per_batch", Stats.mean(versionDeltas.toSeq), "count"),
    Metric("commit.claims_lost",
      (ManifestCommit.metrics.get("claims_lost") - claimsLost0).toDouble, "count"),
    Metric("store.files", storeFiles.toDouble, "count")) ++
    Layers.dedupQuery(idx) ++ pipeline.layers(idx)
}

object Ingest {
  private final case class Batch(id: Long, docs: Seq[Doc], vecs: Seq[Vec], fresh: Set[Long])

  private final case class Outcome(
      skipped: Boolean, survivors: Set[Long], stamps: (Option[Long], Option[Long]))
}
