package graft

import org.apache.spark.sql.functions._

/** Throwaway calibration: margin-guided multi-probe recall vs budget. */
object LshCalib {
  def main(args: Array[String]): Unit = {
    val spark = TestSpark.spark
    for (sf <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1")) {
      val emb = Tables.df(spark, sf, "embeddings")
        .withColumn("nrm", expr("vec_norm(embedding)"))
        .withColumn("bucket", expr("lsh_bucket64(embedding)"))
        .select(col("vec_id"), col("embedding").as("e"), col("nrm"), col("bucket"))
      val rows = emb.collect()
      val q = rows.find(_.getAs[Long]("vec_id") == 0).get
      val qe = q.getAs[scala.collection.Seq[Float]]("e").toArray
      val qn = q.getAs[Double]("nrm")
      val qb = q.getAs[Long]("bucket")
      val scored = rows.filter(_.getAs[Long]("vec_id") != 0).map { r =>
        val e = r.getAs[scala.collection.Seq[Float]]("e")
        val cos = e.zip(qe).map { case (a, b) => a.toDouble * b.toDouble }.sum /
          (r.getAs[Double]("nrm") * qn)
        (r.getAs[Long]("vec_id"), cos, r.getAs[Long]("bucket"))
      }
      val top10 = scored.sortBy(x => (-x._2, x._1)).take(10)

      // query margins per plane (|projection| onto each hyperplane, normalized)
      val margins = (0 until graft.functions.LshOps.NumPlanes).map { p =>
        var acc = 0.0
        var j = 0
        while (j < qe.length) { acc += qe(j) * graft.functions.LshOps.planes(p * 2048 + j); j += 1 }
        math.abs(acc) / qn
      }.toArray

      // all 256 XOR masks scored by sum of flipped margins^2, ascending
      val masks = (0 until 256).map { m =>
        var sc = 0.0
        var p = 0
        while (p < 8) { if (((m >> p) & 1) == 1) sc += margins(p) * margins(p); p += 1 }
        (m.toLong, sc)
      }.sortBy(_._2).map(_._1)

      for (budget <- Seq(16, 32, 48, 64, 96, 128)) {
        val probed = masks.take(budget).map(_ ^ qb).toSet
        val captured = top10.count { case (_, _, b) => probed(b) }
        val frac = scored.count { case (_, _, b) => probed(b) }.toDouble / scored.length
        println(f"SF=$sf%-25s budget=$budget%3d recall=$captured/10 scanFrac=$frac%.3f")
      }
    }
    spark.stop()
  }
}
