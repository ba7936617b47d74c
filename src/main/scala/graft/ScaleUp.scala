package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Builds a `factor`× copy of a testdata scale dir for cost-curve
  * sweeps (the README two-scale table; AllTime runs against the
  * output). Usage:
  *   sbt "runMain graft.ScaleUp [srcDir] [outDir] [factor] [zipf]"
  *
  * With the optional 4th arg `zipf`, the EVENTS replicas additionally
  * remap user_id onto a Zipf(s≈1.5) key distribution over a
  * `factor`× user space (continuous inverse-CDF approximation,
  * r = (1 − u·(1 − 1/√N))^−2 on a deterministic per-event uniform u
  * from xxhash64(event_id)) — the head user holds ~29% of all events,
  * the shape that tips user-keyed shuffles onto one reducer. The
  * SkewSweep main runs the heavy event queries against a uniform and
  * a zipf dir side by side; all other tables are written unchanged.
  *
  * Replicas must be DISTINCT content, not byte copies: unioning
  * identical documents would multiply near-dup candidate pairs
  * quadratically, and the sweep would measure an artificial duplicate
  * explosion instead of the operator's cost curve. Per replica r:
  *  - documents: ids shifted; text Caesar-shifted by r (letters only,
  *    length-preserving) — within-replica duplicate structure is
  *    identical, cross-replica shingle sets are disjoint;
  *  - embeddings: ids shifted; vector dimensions rotated by r — norms
  *    and within-replica cosines preserved, cross-replica cosines
  *    scrambled (so threshold ops stay linear);
  *  - events: event/user ids shifted into a fresh user space, event
  *    times kept — windows get factor× denser, which IS the scale
  *    effect a stream at higher volume shows;
  *  - lineitem/orders/customer: keys shifted consistently so joins
  *    still resolve; dimension tables (part supplier nation region)
  *    are copied once — dims don't grow with corpus size.
  */
object ScaleUp {

  private val Lower = "abcdefghijklmnopqrstuvwxyz"
  private val Upper = Lower.toUpperCase

  /** Length-preserving Caesar shift of the letter alphabet by `r`. */
  private def caesar(c: org.apache.spark.sql.Column, r: Int) = {
    val lo = Lower.drop(r % 26) + Lower.take(r % 26)
    val up = Upper.drop(r % 26) + Upper.take(r % 26)
    translate(c, Lower + Upper, lo + up)
  }

  def main(args: Array[String]): Unit = {
    val srcDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val outDir = args.lift(1).getOrElse("scaledata/sf1")
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    val zipf = args.lift(3).contains("zipf")
    require(factor >= 1)

    val spark = Harness.session("spark.sql.legacy.parquet.nanosAsLong" -> "true")

    def read(t: String): DataFrame = spark.read.parquet(s"$srcDir/$t.parquet")
    def write(df: DataFrame, t: String): Unit =
      df.write.mode("overwrite").parquet(s"$outDir/$t.parquet")
    def replicate(t: String)(f: (DataFrame, Int) => DataFrame): Unit = {
      val src = read(t)
      write((0 until factor).map(r => f(src, r)).reduce(_.unionAll(_)), t)
    }

    replicate("documents") { (d, r) =>
      d.withColumn("doc_id", col("doc_id") + lit(r * 1000000L))
        .withColumn("text", caesar(col("text"), r))
    }
    val dim = read("embeddings").select(size(col("embedding"))).head().getInt(0)
    replicate("embeddings") { (d, r) =>
      val rot = r % dim
      val e = if (rot == 0) col("embedding")
        else concat(slice(col("embedding"), rot + 1, dim - rot),
          slice(col("embedding"), 1, rot))
      d.withColumn("vec_id", col("vec_id") + lit(r * 1000000L))
        .withColumn("embedding", e)
    }
    if (!zipf) {
      replicate("events") { (d, r) =>
        d.withColumn("event_id", col("event_id") + lit(r * 10000000L))
          .withColumn("user_id", col("user_id") + lit(r * 1000000L))
      }
    } else {
      // zipf mode: same replication, but user_id is re-drawn from a
      // Zipf(s≈1.5) over factor× the source user space. u is uniform
      // in [0, 1) from the (replica-shifted) event id, so replicas
      // draw independently; rank 1 (user 0) absorbs ~29% of events.
      val nUsers = (read("events").agg(countDistinct(col("user_id")))
        .head().getLong(0) * factor).toDouble
      replicate("events") { (d, r) =>
        val shifted = d.withColumn("event_id", col("event_id") + lit(r * 10000000L))
        val u = pmod(xxhash64(col("event_id")), lit(1000000000L))
          .cast("double") / lit(1e9)
        val rank = least(lit(nUsers),
          pow(lit(1.0) - u * lit(1.0 - 1.0 / math.sqrt(nUsers)), lit(-2.0)))
        shifted.withColumn("user_id", (floor(rank) - 1).cast("long"))
      }
    }
    replicate("lineitem") { (d, r) =>
      d.withColumn("l_orderkey", col("l_orderkey") + lit(r * 10000000L))
    }
    replicate("orders") { (d, r) =>
      d.withColumn("o_orderkey", col("o_orderkey") + lit(r * 10000000L))
        .withColumn("o_custkey", col("o_custkey") + lit(r * 1000000L))
    }
    replicate("customer") { (d, r) =>
      d.withColumn("c_custkey", col("c_custkey") + lit(r * 1000000L))
    }
    Seq("part", "supplier", "nation", "region").foreach(t => write(read(t), t))

    println(s"SCALEUP wrote ${factor}x of $srcDir to $outDir")
    spark.stop()
  }
}
