package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{GraftExtensions, Tables}
import graft.expressions._
import graft.operators.{BloomBitset, TextOps, TopKByScore, VectorSum}

/** One timed probe per engine component, each alone on one sf0.1 column,
  * through the component's public entry point. A probe returns a small
  * number that must be positive; zero or an exception fails it. */
object Probes {

  private def noop(df: DataFrame): Long = {
    df.write.format("noop").mode("overwrite").save()
    1L
  }

  /** The planner rules in `graft.plans` load only with GraftExtensions,
    * which no query session installs, so this probe builds its own. */
  private def withExtensions[T](spark: SparkSession)(f: SparkSession => T)
      : T = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val ext = SparkSession.builder()
      .withExtensions(new GraftExtensions).getOrCreate()
    try f(ext)
    finally {
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
  }

  def all(scratch: String): Seq[(String, (SparkSession, String) => Long)] =
    Seq(
      "dot_product" -> { (s, dir) =>
        DotProduct.register(s)
        val v = col("embedding").cast("array<double>")
        noop(Tables(s, dir, "embeddings")
          .select(call_function("graft_dot", v, v)))
      },
      "char_bigrams" -> { (s, dir) =>
        CharBigrams.register(s)
        noop(Tables(s, dir, "documents")
          .select(call_function("graft_bigrams", col("text"))))
      },
      "codepoint_split" -> { (s, dir) =>
        CodepointSplit.register(s)
        noop(Tables(s, dir, "documents")
          .select(call_function("graft_codepoints", col("text"))))
      },
      "jaro_winkler" -> { (s, dir) =>
        JaroWinkler.register(s)
        noop(Tables(s, dir, "part")
          .select(call_function("graft_jaro_winkler", col("p_name"),
            col("p_type"))))
      },
      "topk_doubles" -> { (s, dir) =>
        TopKDoubles.register(s)
        Tables(s, dir, "lineitem").groupBy(col("l_returnflag"))
          .agg(call_function("graft_topk", col("l_extendedprice"), lit(10)))
          .collect().length.toLong
      },
      "cms_estimate" -> { (s, dir) =>
        // Probes one row per distinct value: the expression deserializes
        // the sketch per row by design, for bounded candidate lists.
        CmsEstimate.register(s)
        val types = Tables(s, dir, "part").select(col("p_type"))
        val sketch = types.agg(count_min_sketch(col("p_type"), lit(0.001),
          lit(0.99), lit(7)).as("sk"))
        types.distinct().crossJoin(broadcast(sketch))
          .agg(sum(call_function("graft_cms_estimate", col("sk"),
            col("p_type"))))
          .collect().head.getLong(0)
      },
      "text_tokens" -> { (s, dir) =>
        noop(Tables(s, dir, "documents").select(TextOps.tokens(col("text"))))
      },
      "minhash" -> { (s, dir) =>
        noop(Tables(s, dir, "part")
          .select(TextOps.minhash(TextOps.shingles(col("p_name"), 2), 1)))
      },
      "bloom_agg" -> { (s, dir) =>
        Tables(s, dir, "lineitem")
          .agg(BloomBitset.agg(1 << 20)(col("l_orderkey")))
          .collect().head.getSeq[Long](0).count(_ != 0L).toLong
      },
      "topk_by_score" -> { (s, dir) =>
        Tables(s, dir, "lineitem")
          .agg(TopKByScore(10)(col("l_extendedprice"), col("l_orderkey")))
          .collect().head.getSeq[Any](0).size.toLong
      },
      "vector_sum" -> { (s, dir) =>
        Tables(s, dir, "embeddings").agg(VectorSum(col("embedding")))
          .collect().head.getSeq[Float](0).size.toLong
      },
      "topk_per_key" -> { (s, dir) =>
        withExtensions(s) { ext =>
          val w = Window.partitionBy(col("l_orderkey"))
            .orderBy(col("l_extendedprice").desc, col("l_linenumber"))
          val df = Tables(ext, dir, "lineitem")
            .withColumn("rn", row_number().over(w)).filter(col("rn") <= 2)
          require(df.queryExecution.executedPlan.toString
            .contains("TopKPerKey"), "TopKPerKeyExec was not planned")
          noop(df)
        }
      },
      "range_source_read" -> { (s, dir) =>
        noop(s.read.format("graft.sources.RangeSource")
          .option("rows", Tables(s, dir, "lineitem").count())
          .option("partitions", s.sparkContext.defaultParallelism).load())
      },
      "audit_sink_write" -> { (s, dir) =>
        val out = new java.io.File(scratch,
          "audit_" + java.util.UUID.randomUUID()).getAbsolutePath
        Tables(s, dir, "documents").select(col("doc_id"), col("text"))
          .write.format("graft.sources.AuditSink")
          .option("path", out).mode("append").save()
        new java.io.File(out).list().count(_.startsWith("part-")).toLong
      })
}
