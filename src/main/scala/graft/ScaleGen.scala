package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-slice generator (SCALE.md evidence run): writes an N×-replicated
  * copy of the three tables the heavy chains read (events, documents,
  * embeddings) plus pass-through copies of the TPC-H tables, producing an
  * sf1-equivalent directory from sf0.1 (testdata tops out at sf0.1; the
  * 100-TB posture needs a MEASURED scaling ratio, not an argued one).
  *
  * Replication is HORIZONTAL — the realistic way these workloads grow:
  *   - events: replica k shifts event_id and user_id by k·(max+1), so the
  *     series COUNT grows N× while each series keeps its length and its
  *     timestamps (the per-key window/state costs stay constant; the
  *     shuffle key space widens).
  *   - documents: doc_id shifts; text is UNCHANGED across replicas — the
  *     duplication-heavy crawl scenario, which is exactly the load the
  *     dedup/near-dup chains exist to absorb (every doc gains N−1 exact
  *     duplicates; LSH buckets grow by the replica count, never by the
  *     corpus).
  *   - embeddings: vec_id shifts, label/vector unchanged — label buckets
  *     grow N×, pushing the biggest ones past the q65 guard threshold
  *     (the guard's engagement at scale is one of the things to measure).
  *
  * Usage: runMain graft.ScaleGen <srcSfDir> <outDir> <factor>
  */
object ScaleGen {

  /** N horizontal replicas of `df`, shifting each column in `shiftCols`
    * by replica · (max+1 of the column) — one scan, no driver loop. */
  def replicate(spark: SparkSession, df: DataFrame, factor: Int,
                shiftCols: Seq[String]): DataFrame = {
    val bases = shiftCols.map { c =>
      c -> (df.agg(max(col(c))).head.getLong(0) + 1L)
    }
    val reps = spark.range(factor).toDF("__r")
    shiftCols.foldLeft(df.crossJoin(broadcast(reps))) { case (acc, c) =>
      acc.withColumn(c, col(c) + col("__r") * lit(bases.toMap.apply(c)))
    }.drop("__r")
  }

  def main(args: Array[String]): Unit = {
    val Array(src, out, factorS) = args
    val factor = factorS.toInt
    val spark = Harness.session()

    def write(df: DataFrame, name: String, parts: Int): Unit =
      df.repartition(parts).write.mode("overwrite")
        .parquet(s"$out/$name.parquet")

    write(replicate(spark, Tables.events(spark, src), factor,
      Seq("event_id", "user_id")), "events", 32)
    write(replicate(spark, Tables.documents(spark, src), factor,
      Seq("doc_id")), "documents", 16)
    write(replicate(spark, Tables.embeddings(spark, src), factor,
      Seq("vec_id")), "embeddings", 8)
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem").foreach { t =>
      write(Tables.table(spark, src, t), t, 4)
    }
    println(s"[scalegen] wrote ${factor}x slice of $src to $out")
    spark.stop()
  }
}
