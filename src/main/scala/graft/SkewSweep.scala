package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew-stress sweep: the heaviest user-keyed event queries on a
  * UNIFORM vs a ZIPFIAN user_id distribution, plus the plain/salted
  * primitive pairs — the artifact that shows WHERE
  * [[graft.operators.Skew]] should engage (PlanQualitySpec pins plans
  * on the uniform synthetic fixture; nothing else demonstrates the
  * tip-over).
  *
  * Usage (both dirs built by ScaleUp, gitignored, per-machine):
  *   sbt "runMain graft.ScaleUp /root/testdata/sf0.1 scaledata/sf1 10"
  *   sbt "runMain graft.ScaleUp /root/testdata/sf0.1 scaledata/sf1zipf 10 zipf"
  *   sbt "runMain graft.SkewSweep scaledata/sf1 scaledata/sf1zipf"
  *
  * Reads: per registered query, zipf/uniform ≫ 1 means the shape is
  * skew-sensitive (one reducer owns the head user's rows). For the
  * join primitive, three variants isolate the mitigation: AQE's own
  * runtime skew-join split (skewJoin on), the naive baseline (off),
  * and the manual salted join — on a cluster where the skew is known
  * up front, salting also saves AQE's detect-then-replan round trip.
  * Aggregates with algebraic state (sum/count) absorb skew in map-side
  * partials; the sweep shows that too, so salting isn't cargo-culted
  * onto shapes that don't need it. */
object SkewSweep {
  def main(args: Array[String]): Unit = {
    val uniformDir = args.headOption.getOrElse("scaledata/sf1")
    val zipfDir = args.lift(1).getOrElse("scaledata/sf1zipf")
    val salts = args.lift(2).map(_.toInt).getOrElse(16)
    val iters = sys.env.getOrElse("SPARK_GRAFT_REPEAT", "3").toInt
    val spark = Harness.session()

    def time(mk: => DataFrame): Double = Harness.time(iters)(Harness.exec(mk))
    def fmt(d: Double): String = f"$d%.2f"

    // the five heaviest USER-KEYED registered event queries: per-user
    // windows (sessionize, paths), a per-user range join (asof), and
    // two per-user-day rollup joins (cohort, growth) — plus the
    // two-level skew-resistant sessionize twin, so the artifact shows
    // the mitigation next to the shape it mitigates
    val heavy = Seq("ev_sessionize", "ev_sessionize_skew",
      "ev_session_paths", "ev_session_paths_skew", "ev_asof_click",
      "ev_cohort_retention", "ev_growth_accounting")
    val queries = heavy.map(n => SparkEntry.all.find(_.name == n)
      .getOrElse(sys.error(s"unknown query $n")))

    val perQuery = Seq(uniformDir -> "uniform", zipfDir -> "zipf").map {
      case (dir, tag) =>
        tag -> queries.map(q => q.name -> time(q.run(spark, dir))).toMap
    }.toMap

    // primitive pairs on the ZIPF events (value col summed; the dim
    // join disables auto-broadcast so the shuffle path — the one that
    // skews — is what gets measured)
    val ev = sources.EventsTime.load(spark, zipfDir)
      .select("user_id", "value", "event_id")
    val dim = ev.select("user_id").distinct()
      .withColumn("segment", pmod(col("user_id"), lit(7)))
    def withConf[A](kvs: (String, String)*)(body: => A): A = {
      val saved = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
      kvs.foreach { case (k, v) => spark.conf.set(k, v) }
      try body finally saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
    val aggPlain = time(ev.groupBy("user_id")
      .agg(sum(col("value")).as("sum_value"), count(lit(1)).as("n")))
    val aggSalted = time(operators.Skew.saltedAggregate(
      ev, Seq("user_id"), "value", salts))
    val noBroadcast = "spark.sql.autoBroadcastJoinThreshold" -> "-1"
    val skewOff = "spark.sql.adaptive.skewJoin.enabled" -> "false"
    val skewOn = "spark.sql.adaptive.skewJoin.enabled" -> "true"
    val joinNaive = withConf(noBroadcast, skewOff) {
      time(ev.join(dim, Seq("user_id")))
    }
    val joinAqe = withConf(noBroadcast, skewOn) {
      time(ev.join(dim, Seq("user_id")))
    }
    val joinSalted = withConf(noBroadcast, skewOff) {
      time(operators.Skew.saltedJoin(ev, dim, Seq("user_id"), salts))
    }

    val qJson = perQuery.map { case (tag, m) =>
      "\"" + tag + "\":" + m.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
        .mkString("{", ",", "}")
    }.mkString("{", ",", "}")
    val json = s"""{"metric":"skew_sweep","salts":$salts,"queries":$qJson,""" +
      s""""agg_plain":${fmt(aggPlain)},"agg_salted":${fmt(aggSalted)},""" +
      s""""join_naive":${fmt(joinNaive)},"join_aqe":${fmt(joinAqe)},""" +
      s""""join_salted":${fmt(joinSalted)},""" +
      s""""uniform":"$uniformDir","zipf":"$zipfDir"}"""
    println(json)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("skew_out.json"), json + "\n")
    spark.stop()
  }
}
