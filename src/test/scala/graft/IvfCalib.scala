package graft

import org.apache.spark.sql.functions._

/** Throwaway calibration: IVF recall vs nprobe across scale factors. */
object IvfCalib {
  def main(args: Array[String]): Unit = {
    val spark = TestSpark.spark
    for (sf <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1")) {
      val (idx, cents) = graft.operators.Similarity.ivfIndex(spark, sf)
      val rows = Tables.df(spark, sf, "embeddings")
        .withColumn("nrm", expr("vec_norm(embedding)")).collect()
      val q = rows.find(_.getAs[Long]("vec_id") == 0).get
      val qe = q.getAs[scala.collection.Seq[Float]]("embedding").toArray
      val qn = q.getAs[Double]("nrm")
      val scored = rows.filter(_.getAs[Long]("vec_id") != 0).map { r =>
        val e = r.getAs[scala.collection.Seq[Float]]("embedding")
        (r.getAs[Long]("vec_id"),
          e.zip(qe).map { case (a, b) => a.toDouble * b.toDouble }.sum / (r.getAs[Double]("nrm") * qn))
      }
      val top10 = scored.sortBy(x => (-x._2, x._1)).take(10).map(_._1).toSet
      val assign = idx.select("vec_id", "cl").collect()
        .map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("cl")).toMap
      val ranked = cents.map { case (cl, ce, cn) =>
        var acc = 0.0; var i = 0
        while (i < math.min(qe.length, ce.length)) { acc += qe(i) * ce(i); i += 1 }
        (cl, acc / (qn * cn))
      }.sortBy(x => (-x._2, x._1)).map(_._1)
      for (np <- Seq(2, 3, 4, 5, 6, 8)) {
        val probed = ranked.take(np).toSet
        val rec = top10.count(id => probed(assign(id)))
        val frac = assign.values.count(probed).toDouble / assign.size
        println(f"SF=$sf%-25s nprobe=$np recall=$rec/10 scanFrac=$frac%.3f")
      }
    }
    spark.stop()
  }
}
