package graft

import java.nio.file.{Files, Paths}
import java.security.MessageDigest

/** Regenerates the golden results file used by GoldenSpec:
  *   runMain graft.GoldenGen
  * writes src/test/resources/golden_sf0.001.tsv with
  * (query, rowCount, md5-of-collected-rows) per contract query. Run this
  * ONLY when a query's semantics intentionally change, and eyeball the diff.
  */
object GoldenGen {
  def digest(rows: Array[org.apache.spark.sql.Row]): String = {
    val md = MessageDigest.getInstance("MD5")
    md.update(rows.map(_.toString).mkString("\n").getBytes("UTF-8"))
    md.digest().map("%02x".format(_)).mkString
  }

  def main(args: Array[String]): Unit = {
    val spark = Session.build(4)
    val lines = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val rows = fn(spark, "/root/testdata/sf0.001").collect()
      s"$name\t${rows.length}\t${digest(rows)}"
    }
    val p = Paths.get("src/test/resources/golden_sf0.001.tsv")
    Files.createDirectories(p.getParent)
    Files.writeString(p, lines.mkString("\n") + "\n")
    println(s"[golden] wrote ${lines.size} entries to $p")
    spark.stop()
  }
}
