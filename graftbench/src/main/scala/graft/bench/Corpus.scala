package graft.bench

import graft.tools.GenData
import org.apache.spark.sql.SparkSession

import java.io.File
import scala.sys.process._

/** The seed's input corpus: the in-tree generator's tables, one parquet
  * file per table (the layout the DuckDB oracle reads and the shipped
  * test data has). Every run generates its own, so every run's JVM has
  * done the same work before its first timed query.
  */
object Corpus {
  val Tables: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  def rmr(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rmr))
    f.delete(): Unit
  }

  /** Generates the seed's corpus into `dir`. `flatten` is the command that
    * merges a generated table directory into one file.
    */
  def generate(spark: SparkSession, dir: File, sf: Double, seed: Long,
      flatten: Seq[String]): String = {
    val stage = new File(dir, ".stage")
    // one thread per table: the generator's jobs are small, so running
    // them side by side keeps the cores busy
    val pool = java.util.concurrent.Executors.newFixedThreadPool(Tables.size)
    try Tables.map(t => pool.submit(new Runnable {
      def run(): Unit = GenData.generate(spark, sf, stage.getPath, seed = seed,
        tables = Some(Set(t)))
    })).foreach(_.get())
    finally pool.shutdown()
    val rc = (flatten ++ Seq(stage.getPath, dir.getPath) ++ Tables).!
    require(rc == 0, s"flattening the generated corpus failed (exit $rc)")
    rmr(stage)
    dir.getPath
  }
}
