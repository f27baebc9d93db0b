package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.operators.{DedupIndex, Similarity, StateTable}
import graft.plans.Counter

/** `serve`: a closed loop of 2 clients over tiers built in set-up. Each
  * client cycles through a fixed rotation of request kinds: a 16-doc
  * dedup-index probe, ANN top-k for 4 vectors (IVF and PQ in turn), a
  * `graft_dedup_bands` SQL lookup and the reference's plan-service
  * calls. The clients start at different points of the rotation. The
  * group entities the plan-service calls read are published in set-up
  * by the reference's refresh ([[PlanRefresh]]). */
final class Serve(ctx: Ctx) extends Workload {
  import ctx.spark
  import spark.implicits._

  val name = "serve"
  private val nDocs = ctx.size(10000, 2000)
  private val nVecs = ctx.size(5000, 2000)
  private val nGroups = ctx.size(20000, 5000)
  private val Dim = 64
  private val Clients = 2
  private val K = 5

  private val root = s"${ctx.work}/serve"
  private val dixDir = s"$root/dix"
  private val ivfDir = s"$root/ivf"
  private val pqDir = s"$root/pq"
  private val plansDir = s"$root/plans"
  private val refresh = new PlanRefresh(ctx, root, nGroups, 12)

  private var docs: Array[Doc] = _
  private var vecs: Array[Vec] = _
  private var corpusExact: DataFrame = _
  private val counterModel = Array.fill(Clients)(0L)
  private val counters = Array.tabulate(Clients)(c => new Counter(spark, s"$root/counter_$c"))
  private val rngs = Array.tabulate(Clients)(c => ctx.gen.rng(100 + c))
  private val seqs = Array.fill(Clients)(0L)

  private val Rotation =
    Seq("probe", "ann.ivf", "sql", "plan_api", "probe", "ann.pq", "sql", "plan_api")

  def setup(ops: Ops): Unit = {
    val g = ctx.gen
    docs = g.freshDocs(g.rng(10), 1L, nDocs)
    vecs = g.vectors(g.rng(11), 1L, nVecs, Dim)
    Step("serve inputs") {
      docs.toSeq.map(d => (d.id, d.text)).toDF("doc_id", "text")
        .write.parquet(s"$root/input/docs")
      vecs.toSeq.map(v => (v.id, v.values)).toDF("vec_id", "embedding")
        .write.parquet(s"$root/input/vectors")
      refresh.writeInputs()
    }
    Step("serve dedup index") {
      DedupIndex.build(spark.read.parquet(s"$root/input/docs"), "doc_id", "text", dixDir)
    }
    corpusExact = spark.read.parquet(s"$root/input/vectors")
    Step("serve ivf index")(Similarity.buildIvfIndex(corpusExact, ivfDir))
    Step("serve pq index") {
      Similarity.buildPqIndex(corpusExact, pqDir, centroidsFrom = Some(ivfDir))
    }
    Step("serve refresh")(refresh.run(ops))
    StateTable.publish(spark.read.parquet(refresh.plansPath), plansDir)
  }

  private def nextId(c: Int): Long = {
    seqs(c) += 1
    (c + 1) * 1000000000L + seqs(c) * 100
  }

  private def request(c: Int, kind: String, ops: Ops): Unit = {
    val r = rngs(c)
    val base = nextId(c)
    ctx.tracer.request(base) {
      ctx.tracer.span(s"req.$kind") {
        kind match {
          case "probe" => probe(r, base, ops)
          case "ann.ivf" | "ann.pq" => ann(r, base, kind, ops)
          case "sql" => sql(r, ops)
          case "plan_api" => planApi(c, r, ops)
        }
      }
    }
  }

  /** 16 docs: 4 exact and 4 near copies of indexed docs, 8 fresh ones.
    * Exactly the fresh ones survive. */
  private def probe(r: SplittableRandom, base: Long, ops: Ops): Unit = {
    val planted = (0 until 8).map { i =>
      val src = docs(r.nextInt(docs.length))
      (base + i, if (i < 4) src.text else ctx.gen.nearCopy(r, src.text))
    }
    val fresh = (8 until 16).map(i => (base + i, ctx.gen.freshText(r)))
    val batch = (planted ++ fresh).toDF("doc_id", "text")
    val want = fresh.map(_._1).toSet
    ops.op("probe") {
      val q = ctx.tracer.span("dix.query.build") {
        DedupIndex.query(batch, "doc_id", "text", dixDir)
      }
      ctx.tracer.span("dix.query.exec") {
        q.select(col("doc_id")).collect().map(_.getLong(0)).toSet
      }
    }(got => if (got == want) Nil else Seq(s"probe survivors ${got.toSeq.sorted} != ${want.toSeq.sorted}"))
  }

  /** 4 near copies of corpus vectors; each source must rank first. */
  private def ann(r: SplittableRandom, base: Long, kind: String, ops: Ops): Unit = {
    val picks = (0 until 4).map { i =>
      val src = vecs(r.nextInt(vecs.length))
      (base + i, src.id, ctx.gen.nearVector(r, src.values))
    }
    val queries = picks.map { case (q, _, v) => (q, v) }.toDF("vec_id", "embedding")
    val want = picks.map { case (q, s, _) => q -> s }.toMap
    ops.op(kind) {
      ctx.tracer.span(s"$kind.topk") {
        val top =
          if (kind == "ann.ivf") Similarity.ivfTopKIndexed(queries, corpusExact, ivfDir, K)
          else Similarity.pqTopKIndexed(queries, corpusExact, pqDir, K)
        top.where(col("rank") === 1).select(col("qid"), col("nid")).collect()
          .map(x => x.getLong(0) -> x.getLong(1)).toMap
      }
    }(got => if (got == want) Nil else Seq(s"$kind rank-1 $got != $want"))
  }

  /** Band rows of 16 indexed docs through the SQL table function:
    * every doc has 8 bands. */
  private def sql(r: SplittableRandom, ops: Ops): Unit = {
    val ids = Iterator.continually(1L + r.nextInt(nDocs)).distinct.take(16).toSeq
    val text = s"SELECT doc_id, count(*) AS n FROM graft_dedup_bands('$dixDir') " +
      s"WHERE doc_id IN (${ids.mkString(",")}) GROUP BY doc_id"
    ops.op("sql") {
      val df = ctx.tracer.span("sql.analyze")(spark.sql(text))
      ctx.tracer.span("sql.exec")(df.collect().map(x => x.getLong(0) -> x.getLong(1)).toMap)
    }(got =>
      if (got == ids.map(_ -> 8L).toMap) Nil else Seq(s"sql band counts $got for $ids"))
  }

  /** The plan service: read one group entity, get all plans, then
    * `Counter.incr` and `Counter.get` on this client's counter. */
  private def planApi(c: Int, r: SplittableRandom, ops: Ops): Unit = {
    val gid = 1L + r.nextInt(nGroups)
    ops.op("plan_api") {
      val entity = ctx.tracer.span("state.read") {
        StateTable.read(spark, refresh.stateDir).where(col("gid") === gid)
          .select(col("n_plans"), col("plan_titles")).collect()
          .map(x => (x.getLong(0), x.getString(1))).toSeq
      }
      val plans = ctx.tracer.span("state.read") {
        StateTable.read(spark, plansDir).select(col("id"), col("title")).collect()
          .map(x => x.getLong(0) -> x.getString(1)).toMap
      }
      val incr = ctx.tracer.span("counter.incr")(counters(c).incr())
      val get = ctx.tracer.span("counter.get")(counters(c).get())
      (entity, plans, incr, get)
    } { case (entity, plans, incr, get) =>
      counterModel(c) += 1
      val want = Plans.decode(refresh.masks((gid - 1).toInt))
      Seq(
        if (entity == Seq(want)) None else Some(s"group $gid entity $entity != $want"),
        if (plans == Plans.Bits.map(b => Plans.id(b) -> Plans.title(b)).toMap) None
        else Some(s"plans table has ${plans.size} rows"),
        if (incr == counterModel(c) && get == counterModel(c)) None
        else Some(s"counter incr=$incr get=$get, model ${counterModel(c)}")).flatten
    }
  }

  private def clients(body: Int => Unit): Unit = {
    val threads = (0 until Clients).map(c => new Thread(() => body(c), s"perfbench-client-$c"))
    threads.foreach(_.start())
    threads.foreach(_.join())
  }

  /** Client c starts its rotation at offset 2c. */
  private def kindAt(c: Int, i: Long): String =
    Rotation(((i + 2 * c) % Rotation.size).toInt)

  /** Half a rotation per client: together the two clients send every
    * request kind at least once. */
  def warmup(ops: Ops): Unit =
    clients(c => (0 until Rotation.size / 2).foreach(i => request(c, kindAt(c, i), ops)))

  /** Each client sends requests until the deadline, and at least half a
    * rotation, so every request kind is measured. */
  def window(seconds: Double, ops: Ops, traced: Boolean): Unit = {
    ops.startNs = System.nanoTime()
    val deadline = ops.startNs + (seconds * 1e9).toLong
    clients { c =>
      var i = 0L
      while (System.nanoTime() < deadline || i < Rotation.size / 2) {
        request(c, kindAt(c, i), ops)
        i += 1
      }
    }
    ops.endNs = System.nanoTime()
  }

  private val Kinds = Seq("probe", "ann.ivf", "ann.pq", "sql", "plan_api")

  private val KindGroups =
    Seq(Seq("probe"), Seq("ann.ivf", "ann.pq"), Seq("sql"), Seq("plan_api"))

  /** Mean of the per-kind median latencies: the rotation's typical
    * request, independent of which kinds happen to fill the window. */
  private def latencyMs(ops: Ops): Double =
    Stats.mean(KindGroups.map(k => Stats.median(ops.ms(k: _*))))

  def endToEnd(ops: Ops): Seq[Metric] = Seq(
    Metric("throughput_per_s", ops.ms(Kinds: _*).size / ops.wallS, "1/s"),
    Metric("latency_ms", latencyMs(ops), "ms"))

  def report(setup: Ops, ops: Ops): Seq[Metric] = {
    val all = ops.ms(Kinds: _*)
    Seq(
      Metric("refresh_s", Stats.median(setup.ms("refresh")) / 1e3, "s"),
      Metric("serve_rps", all.size / ops.wallS, "1/s"),
      Metric("serve_p90_ms", Stats.quantile(all, 0.9), "ms"),
      Metric("probe_p50_ms", Stats.median(ops.ms("probe")), "ms"),
      Metric("ann_p50_ms", Stats.median(ops.ms("ann.ivf", "ann.pq")), "ms"),
      Metric("sql_p50_ms", Stats.median(ops.ms("sql")), "ms"),
      Metric("plan_api_p50_ms", Stats.median(ops.ms("plan_api")), "ms"))
  }

  def layers(ops: Ops, idx: SpanIndex): Seq[Metric] = {
    val counterOps = idx.named("counter.incr") ++ idx.named("counter.get")
    Seq(
      Metric("dix.segments", DedupIndex.readManifest(dixDir).segments.size, "count"),
      Metric("ann.ivf.topk_ms", Layers.ms(idx, "ann.ivf.topk"), "ms"),
      Metric("ann.ivf.topk_jobs", Layers.jobs(idx, "ann.ivf.topk"), "count"),
      Metric("ann.pq.topk_ms", Layers.ms(idx, "ann.pq.topk"), "ms"),
      Metric("ann.pq.topk_jobs", Layers.jobs(idx, "ann.pq.topk"), "count"),
      Metric("store.files",
        Seq(dixDir, ivfDir, pqDir).map(d => Files.dataFiles(d).size).sum, "count"),
      Metric("sql.analyze_ms", Layers.ms(idx, "sql.analyze"), "ms"),
      Metric("sql.analyze_jobs", Layers.jobs(idx, "sql.analyze"), "count"),
      Metric("sql.exec_ms", Layers.ms(idx, "sql.exec"), "ms"),
      Metric("sql.exec_jobs", Layers.jobs(idx, "sql.exec"), "count"),
      Metric("state.read_ms", Layers.ms(idx, "state.read"), "ms"),
      Metric("state.read_jobs", Layers.jobs(idx, "state.read"), "count"),
      Metric("counter.op_ms", Stats.median(counterOps.map(_.ms)), "ms"),
      Metric("counter.jobs_per_op",
        Stats.mean(counterOps.map(s => idx.jobs(s).toDouble)), "count")) ++
      Layers.dedupQuery(idx) ++ refresh.layers(idx)
  }
}
