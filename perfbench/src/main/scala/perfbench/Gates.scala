package perfbench

import java.nio.file.{Files, Paths}
import org.apache.spark.graftbridge.ListenerBridge
import Common._

/** The gate workload: a fixed stratified sample of `SparkEntry.queries`
  * (every fortieth gate of each family, in name order), run once cold, then
  * in untimed and then in timed passes, each for the run's seconds. Row
  * counts go to `gates.json` beside each gate's oracle SQL, so the
  * runner can check them against DuckDB. */
object Gates {
  val stride = 40

  def sample: Seq[String] =
    graft.SparkEntry.queries.keys.toSeq.sorted.groupBy(_.head).toSeq.sortBy(_._1)
      .flatMap { case (_, names) => names.indices.by(stride).map(names) }

  def run(a: Args): Result = {
    val sfDir = Paths.get("perfbench", "data", "sf0.001").toAbsolutePath.toString
    val names = sample
    val fns = graft.SparkEntry.queries
    val (spark, setupS) = setUp(a) { s =>
      s.read.parquet(s"$sfDir/region.parquet").count(): Unit
    }
    val jc = new JobCounter(() => null)
    spark.sparkContext.addSparkListener(jc)
    // per-stage floor on this host and session: the probe graft.Bench
    // times, divided by the stages it runs
    val floor = {
      val probe = spark.read.parquet(s"$sfDir/region.parquet")
      ListenerBridge.drain(spark.sparkContext)
      val s0 = jc.stages
      val t = median((0 until 5).map { _ =>
        val t0 = System.nanoTime()
        probe.groupBy(probe.columns.head).count().count(): Unit
        (System.nanoTime() - t0) / 1e9
      })
      ListenerBridge.drain(spark.sparkContext)
      t / math.max(1.0, (jc.stages - s0) / 5.0)
    }

    def one(name: String): (Long, Double, Int, Int) = {
      graft.queries.Memos.evictQueryMemos(spark)
      ListenerBridge.drain(spark.sparkContext)
      val (j0, s0) = (jc.jobs, jc.stages)
      val id = Trace.nextId()
      val t0 = System.nanoTime()
      val rows = try fns(name)(spark, sfDir).count() catch { case _: Throwable => -1L }
      val t1 = System.nanoTime()
      Trace.record(s"gate.$name", t0, t1, 0, id)
      ListenerBridge.drain(spark.sparkContext)
      (rows, (t1 - t0) / 1e9, jc.jobs - j0, jc.stages - s0)
    }
    def passes(): (Map[String, Seq[(Long, Double, Int, Int)]], Int) = {
      val end = System.nanoTime() + a.seconds * 1000000000L
      val out = names.map(_ -> Seq.newBuilder[(Long, Double, Int, Int)]).toMap
      var n = 0
      while (n == 0 || System.nanoTime() < end) {
        names.foreach(g => out(g) += one(g))
        n += 1
      }
      (out.map { case (k, v) => k -> v.result() }, n)
    }

    val w0 = System.nanoTime()
    val warm = names.map(g => g -> one(g)).toMap
    val warmS = (System.nanoTime() - w0) / 1e9
    // the first pass runs cold, and pass times keep falling for several
    // passes after it while the JIT compiles the engine's hot paths, so
    // untimed passes run for the run's seconds before the timed ones
    val (settle, _) = passes()
    phase("floor probe and warm passes")
    val (timed, nPasses) = passes()
    phase("timed passes")
    val med = names.map(g => g -> median(timed(g).map(_._2))).toMap
    val suite = med.values.sum
    // a traced run, then an untraced one to take the tracing overhead against
    val (tracedPass, afterPass) = if (!a.trace) (None, None) else {
      Trace.on = true
      val t = passes()._1
      Trace.on = false
      (Some(t), Some(passes()._1))
    }
    // every pass must count the rows the cold pass counted
    val all = Seq(settle, timed) ++ tracedPass ++ afterPass
    val unsteady = names.count(g => warm(g)._1 < 0 ||
      all.exists(_(g).exists(_._1 != warm(g)._1)))
    val jobs = names.map(g => timed(g).last._3).sum
    val stages = names.map(g => timed(g).last._4).sum
    val oracle = graft.SparkEntry.oracleSql
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val report = m.createObjectNode()
    names.foreach { g =>
      val o = report.putObject(g)
      o.put("rows", warm(g)._1)
      oracle.get(g).foreach(o.put("oracle_sql", _))
    }
    Files.write(Paths.get(a.work, "gates.json"), m.writeValueAsBytes(report))

    val fams = names.groupBy(_.head.toString).toSeq.sortBy(_._1)
    val (costliest, cs) = fams.map { case (f, gs) => f -> gs.map(med).sum }.maxBy(_._2)
    System.err.println(f"[perfbench] costliest layer: queries (family $costliest: " +
      f"$cs%.2f s of $suite%.2f s)")
    val layers = Seq(
      ("gates.floor_ms", floor * 1e3, "ms"),
      ("gates.count", names.size.toDouble, "count"),
      ("gates.passes", nPasses.toDouble, "count"),
      ("gates.jobs_total", jobs.toDouble, "count"),
      ("gates.stages_total", stages.toDouble, "count"),
      ("gates.net_of_floor_s", suite - stages * floor, "s"),
      ("gates.warm_pass_s", warmS, "s"),
      ("gates.suite_s", suite, "s")) ++
      fams.map { case (f, gs) => (s"gates.${f}_s", gs.map(med).sum, "s") }
    val e2e = Seq(
      ("latency_p50_ms", median(med.values.toSeq) * 1e3, "ms"),
      ("latency_p90_ms", pct(med.values.toSeq, 90) * 1e3, "ms"),
      ("throughput_per_s", names.size / suite, "1/s"),
      ("setup_s", setupS, "s"))
    def suiteOf(t: Map[String, Seq[(Long, Double, Int, Int)]]) =
      names.map(g => median(t(g).map(_._2))).sum
    val traced = tracedPass.zip(afterPass).toSeq.flatMap { case (t, after) =>
      val suiteT = suiteOf(t)
      Seq(("trace.e2e_s", suiteT, "s"), ("queries.self_s", suiteT, "s"),
        ("trace.overhead_frac", suiteT / ((suite + suiteOf(after)) / 2) - 1, "ratio"))
    }
    spark.sparkContext.removeSparkListener(jc)
    Result(names.size.toLong, unsteady.toLong, e2e, layers ++ traced)
  }
}
