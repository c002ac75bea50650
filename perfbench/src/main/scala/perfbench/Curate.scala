package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** `curate_cold`: one client runs cold curation passes. Each pass drops
  * every engine cache, then runs registered extension queries covering
  * every cache family (Dedup, TextAnalysis, Similarity, Pq, Multimodal)
  * over a fixed corpus, so it pays every cache fill. The first pass runs
  * in a fresh process, as a one-off curation job does, so it also pays
  * code generation and JIT warm-up; later passes (if `--seconds` leaves
  * room) run warm. The corpus is generated from a fixed seed (42) and
  * the workload ignores `--seed`: its inputs never vary. */
object Curate {
  val CorpusSeed = 42L
  val Docs = 1200
  val Vectors = 800
  val Dim = 64
  val Labels = 10

  /** Rows each query returns on the corpus, cross-checked against the
    * query's own DuckDB oracle SQL over the same generated parquet. */
  val Expected: Map[String, Long] = Map(
    "dedup_clusters" -> 1200L, "text_langid_profile" -> 1200L,
    "sim_kmeans_inertia" -> 29L, "sim_pq_codes" -> 256L, "dedup_phash_dups" -> 202L)

  private val Vocab = ("batch part spark line column order small sort fast value scan " +
    "a hash slow group agg filter query big key window row table stream merge data " +
    "the join customer vector").split(" ")
  private val Langs = Seq("en" -> 0.4, "zh" -> 0.15, "es" -> 0.15, "fr" -> 0.15, "de" -> 0.15)

  /** Write documents.parquet and embeddings.parquet under `dir`. About
    * one document in twelve is a near-copy of an earlier one (one word
    * changed), so the dedup queries find real clusters. */
  def writeCorpus(ctx: Ctx, dir: String): Unit = {
    val spark = ctx.spark
    val rng = new scala.util.Random(CorpusSeed)
    val texts = new Array[String](Docs)
    val docs = (0 until Docs).map { i =>
      val text =
        if (i > 10 && rng.nextDouble() < 0.08) {
          val w = texts(rng.nextInt(i)).split(" ")
          w(rng.nextInt(w.length)) = Vocab(rng.nextInt(Vocab.length))
          w.mkString(" ")
        } else Seq.fill(8 + rng.nextInt(70))(Vocab(rng.nextInt(Vocab.length))).mkString(" ")
      texts(i) = text
      var u = rng.nextDouble()
      val lang = Langs.find { case (_, w) => u -= w; u < 0 }.map(_._1).getOrElse("en")
      Row(i.toLong, text, lang, s"src${i % 20}", text.length.toLong)
    }
    val docSchema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    spark.createDataFrame(docs.asJava, docSchema).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val centers = Array.fill(Labels, Dim)(rng.nextGaussian().toFloat * 0.3f)
    val vecs = (0 until Vectors).map { i =>
      val l = rng.nextInt(Labels)
      val v = Array.tabulate(Dim)(k => centers(l)(k) + rng.nextGaussian().toFloat * 0.1f)
      Row(i.toLong, v.toSeq, l)
    }
    val vecSchema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)), StructField("label", IntegerType)))
    spark.createDataFrame(vecs.asJava, vecSchema).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
  }

  final case class QueryRun(pass: Int, name: String, startMs: Double, endMs: Double, rows: Long)

  def run(ctx: Ctx): Seq[Double] = {
    val spark = ctx.spark
    val sc = spark.sparkContext
    val setup = (1 to Main.SetupReps).map(r => Clock.timed(writeCorpus(ctx, ctx.dir(s"corpus_r$r")))._2)
    val corpus = ctx.dir(s"corpus_r${Main.SetupReps}")
    Log(s"corpus written: ${setup.map(x => f"$x%.2f").mkString(" ")} s")

    def pass(p: Int): (Seq[QueryRun], Double) = {
      val t0 = Clock.nowMs
      graft.EngineCaches.invalidateAll()
      val runs = Layers.CurateQueries.map { q =>
        sc.setJobGroup(s"pass-$p/$q", q, interruptOnCancel = false)
        val s0 = Clock.nowMs
        val rows = graft.SparkEntry.queries(q)(spark, corpus).collect().length.toLong
        QueryRun(p, q, s0, Clock.nowMs, rows)
      }
      sc.setJobGroup("", "", interruptOnCancel = false)
      (runs, (Clock.nowMs - t0) / 1000)
    }

    Phase.begin()
    val t0 = Clock.nowMs
    // (queries, pass seconds, MB the caches held at the end of the pass)
    val done = scala.collection.mutable.ArrayBuffer.empty[(Seq[QueryRun], Double, Double)]
    while (done.isEmpty || Clock.nowMs - t0 < ctx.seconds * 1000) {
      val (runs, secs) = pass(done.size + 1)
      val cachedMb = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / (1024.0 * 1024.0)
      done += ((runs, secs, cachedMb))
    }
    Phase.end()
    graft.EngineCaches.invalidateAll()

    val r = ctx.report
    val runs = done.flatMap(_._1)
    r.attempted = runs.size.toLong
    for (q <- runs if q.rows != Expected(q.name))
      r.fail(1, s"${q.name} returned ${q.rows} rows, expected ${Expected(q.name)}")
    val passS = done.map(_._2).toSeq
    Layers.set(r, "throughput_per_s", runs.size / passS.sum)
    Layers.set(r, "latency_p50_s", Stats.median(passS))
    Layers.set(r, "latency_tail_s", passS.max)
    r.diag("pass_s") = (Stats.median(passS), "s")
    r.diag("passes") = (passS.size.toDouble, "count")

    if (ctx.traced) {
      ctx.jobs.drain(spark)
      val jobs = ctx.jobs.jobs.filter(_.group.startsWith("pass-"))
      for (q <- Layers.CurateQueries)
        Layers.set(r, s"extensions.${q}_s",
          Stats.median(runs.filter(_.name == q).map(x => (x.endMs - x.startMs) / 1000).toSeq))
      val n = done.size.toDouble
      Layers.set(r, "extensions.jobs", jobs.size / n)
      Layers.set(r, "extensions.shuffle_mb", jobs.map(_.shuffleWriteBytes).sum / n / (1024.0 * 1024.0))
      Layers.set(r, "extensions.spill_mb", jobs.map(_.spillBytes).sum / n / (1024.0 * 1024.0))
      Layers.set(r, "extensions.cache_mb", Stats.median(done.map(_._3).toSeq))
      val byGroup = jobs.groupBy(_.group)
      for ((runsOfPass, _, _) <- done; p = runsOfPass.head.pass) {
        val root = ctx.tracer.record("extensions.pass", s"pass-$p", -1,
          runsOfPass.head.startMs, runsOfPass.last.endMs)
        for (q <- runsOfPass) {
          val qs = ctx.tracer.record(s"extensions.${q.name}", s"pass-$p", root, q.startMs, q.endMs,
            Map("rows" -> q.rows.toDouble))
          byGroup.getOrElse(s"pass-$p/${q.name}", Nil).foreach { j =>
            ctx.tracer.record(s"job:${j.name}", s"pass-$p", qs, j.startMs, j.endMs,
              Map("tasks" -> j.tasks.toDouble, "shuffle_bytes" -> j.shuffleWriteBytes.toDouble))
          }
        }
      }
    }
    setup
  }
}
