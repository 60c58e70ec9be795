package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.exprs.Kernels

/** Distributed exact Euclidean distance transform over pixel rows — the
  * 100 TB path for `distance_transform_edt`
  * (/root/reference/imops/morphology.py:372-521).
  *
  * The Felzenszwalb–Huttenlocher transform is separable: one 1-D
  * lower-envelope pass per axis over independent lines. Distributed form:
  * each pass groups pixels into lines along the active axis (a shuffle on
  * the other axis), runs the exact 1-D transform per line in a tight kernel
  * loop, and explodes back. Two shuffles total for 2-D — each O(volume) but
  * perfectly partitionable: a line never spans partitions, so 1000
  * executors process 1000 lines concurrently with no cross-talk.
  */
object DistributedEdt {

  /** pixels: (i, j, mask:boolean). Returns (i, j, dist). */
  def apply(pixels: DataFrame, sampling: (Double, Double) = (1.0, 1.0)): DataFrame = {
    val inf = lit(1e100)
    val f0 = pixels.select(col("i"), col("j"),
      when(col("mask"), inf).otherwise(lit(0.0)).as("f"))
    // pass 1: lines along axis 0 (fixed j), ordered by i
    val pass1 = f0.groupBy("j")
      .agg(transform(array_sort(collect_list(struct(col("i"), col("f")))),
        x => x.getField("f")).as("line"))
      .select(col("j"), posexplode(Kernels.dt1d(col("line"), lit(sampling._1))).as(Seq("i", "d")))
    // pass 2: lines along axis 1 (fixed i), ordered by j
    pass1.groupBy("i")
      .agg(transform(array_sort(collect_list(struct(col("j"), col("d")))),
        x => x.getField("d")).as("line"))
      .select(col("i"), posexplode(Kernels.dt1d(col("line"), lit(sampling._2))).as(Seq("j", "d2")))
      .select(col("i").cast("long").as("i"), col("j").cast("long").as("j"),
        sqrt(col("d2")).as("dist"))
  }

  /** 3-D form: the same separable envelope, one pass per axis (three
    * shuffles, each O(volume) and line-partitionable — the shape of the
    * reference's 3-D medical volumes, morphology.py:372-521).
    * voxels: (i, j, k, mask:boolean). Returns (i, j, k, dist). */
  def apply3(voxels: DataFrame,
             sampling: (Double, Double, Double) = (1.0, 1.0, 1.0)): DataFrame = {
    val inf = lit(1e100)
    val f0 = voxels.select(col("i"), col("j"), col("k"),
      when(col("mask"), inf).otherwise(lit(0.0)).as("f"))
    val pass1 = f0.groupBy("j", "k")
      .agg(transform(array_sort(collect_list(struct(col("i"), col("f")))),
        x => x.getField("f")).as("line"))
      .select(col("j"), col("k"),
        posexplode(Kernels.dt1d(col("line"), lit(sampling._1))).as(Seq("i", "d")))
    val pass2 = pass1.groupBy("i", "k")
      .agg(transform(array_sort(collect_list(struct(col("j"), col("d")))),
        x => x.getField("d")).as("line"))
      .select(col("i"), col("k"),
        posexplode(Kernels.dt1d(col("line"), lit(sampling._2))).as(Seq("j", "d")))
    pass2.groupBy("i", "j")
      .agg(transform(array_sort(collect_list(struct(col("k"), col("d")))),
        x => x.getField("d")).as("line"))
      .select(col("i"), col("j"),
        posexplode(Kernels.dt1d(col("line"), lit(sampling._3))).as(Seq("k", "d2")))
      .select(col("i").cast("long").as("i"), col("j").cast("long").as("j"),
        col("k").cast("long").as("k"), sqrt(col("d2")).as("dist"))
  }
}
