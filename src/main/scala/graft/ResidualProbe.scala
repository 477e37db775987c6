package graft
import org.apache.spark.sql.functions.{count, first, lit, max}

/** Dev-only convergence-residual probe (not part of the driver
  * contract): prints each declared residual column's value, the output
  * row count, and the per-row normalized residual at the given SF dir —
  * the measurement source for plans/ConvergenceBounds budgets.
  */
object ResidualProbe {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else graft.plans.ConvergenceBounds.BenchSf
    val spark = Session.local(Session.envCpus)
    graft.plans.ConvergenceBounds.budgets
      .groupBy(_.query).toSeq.sortBy(_._1).foreach { case (q, rows) =>
        val df = SparkEntry.queries(q)(spark, dir)
        val aggs = count(lit(1)).as("n") +:
          rows.map(r => max(df.col(r.column)).as(r.column))
        val got = df.agg(aggs.head, aggs.tail: _*).collect()(0)
        val n = got.getLong(0)
        rows.zipWithIndex.foreach { case (r, i) =>
          val v = got.getLong(i + 1)
          println(f"[residual] $q%-28s ${r.column}%-16s value=$v%-12d" +
            f" rows=$n%-8d per_row=${if (n == 0) 0.0 else v.toDouble / n}%.2f")
        }
      }
    graft.plans.ConvergenceBounds.fixpoints.foreach { fp =>
      val t0 = System.nanoTime()
      val n = SparkEntry.queries(fp.query)(spark, dir).count()
      println(f"[fixpoint] ${fp.query}%-28s completed rows=$n " +
        f"(${(System.nanoTime() - t0) / 1e9}%.1f s)")
    }
    spark.stop()
  }
}
