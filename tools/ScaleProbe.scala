// Round-11 sf0.5 scale probe (judge task 8): measure the >=5s bench
// tail at ~5x the sf0.1 corpus to catch super-linear constants before
// they become a 100 TB surprise. Synthetic scale-up: 5 copies of each
// sf0.1 table with shifted ids; document text is per-copy vowel-
// translated so internal self-similarity stays but copies don't
// trivially near-dup each other (a raw x5 duplication would multiply
// fingerprint df by 5 and bucket pairs by 25 — a density change, not
// a scale change). Writes /tmp/graft_sf05 once, then times each probe
// query cold-session at sf0.1 and sf0.5 and prints one JSON line.
//
// Run: cp tools/ScaleProbe.scala src/main/scala/graft/ && sbt "runMain graft.ScaleProbe"
// (kept under tools/ so the probe is reproducible but not part of the
// shipped library surface)
package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

object ScaleProbe {
  private val Out = "/tmp/graft_sf05"

  private def build(spark: SparkSession): Unit = {
    import spark.implicits._
    if (java.nio.file.Files.exists(java.nio.file.Paths.get(Out, "_DONE_v2"))) return
    val src = "/root/testdata/sf0.1"
    val trans = Seq("aeiou" -> "aeiou", "aeiou" -> "eioua",
      "aeiou" -> "iouae", "aeiou" -> "ouaei", "aeiou" -> "uaeio")
    val docs = spark.read.parquet(s"$src/documents.parquet")
    trans.zipWithIndex.map { case ((f, t), i) =>
      docs.withColumn("doc_id", $"doc_id" + lit(i * 1000000L))
        .withColumn("text", translate($"text", f, t))
    }.reduce(_ unionAll _)
      .write.mode("overwrite").parquet(s"$Out/documents.parquet")
    val ev = spark.read.option("nanosAsLong", "true")
      .parquet(s"$src/events.parquet")
    (0 until 5).map { i =>
      ev.withColumn("event_id", $"event_id" + lit(i * 1000000000L))
        .withColumn("user_id", $"user_id" + lit(i * 1000000L))
    }.reduce(_ unionAll _)
      // single part FILE (not a directory of parts): the streaming
      // spool symlinks the table path and the file-source listing does
      // not follow a directory symlink
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$Out/_ev_tmp")
    val part = new java.io.File(s"$Out/_ev_tmp").listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    val tgt = java.nio.file.Paths.get(s"$Out/events.parquet")
    java.nio.file.Files.deleteIfExists(tgt)
    java.nio.file.Files.move(part.toPath, tgt)
    new java.io.File(s"$Out/_ev_tmp").listFiles().foreach(_.delete())
    java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(s"$Out/_ev_tmp"))
    val li = spark.read.parquet(s"$src/lineitem.parquet")
    (0 until 5).map { i =>
      li.withColumn("l_orderkey", $"l_orderkey" + lit(i * 100000000L))
        .withColumn("l_partkey", $"l_partkey" + lit(i * 10000000L))
    }.reduce(_ unionAll _)
      .write.mode("overwrite").parquet(s"$Out/lineitem.parquet")
    // embeddings: per-copy CYCLIC ROTATION of the vector (norm
    // preserved, direction changed) so copies are neither exact dupes
    // nor trivially co-located — a raw x5 id-shift would hand every
    // vector 4 cosine-1.0 twins and turn the kNN graph degenerate
    val emb = spark.read.parquet(s"$src/embeddings.parquet")
    (0 until 5).map { i =>
      emb.withColumn("vec_id", $"vec_id" + lit(i * 1000000L))
        .withColumn("embedding", expr(
          s"concat(slice(embedding, ${i + 1}, ${64 - i}), slice(embedding, 1, $i))"))
    }.reduce(_ unionAll _)
      .write.mode("overwrite").parquet(s"$Out/embeddings.parquet")
    java.nio.file.Files.write(java.nio.file.Paths.get(Out, "_DONE_v2"),
      Array.emptyByteArray)
  }

  private val probes = Seq(
    "dedup_winnowing", "dedup_ngram_containment", "dedup_max_span",
    "flow_pagerank", "graph_betweenness", "graph_ktruss4",
    "stream_lpm_enrich", "ann_topk_graph",
    // r13: the basket aggregation + in-place pair explode that
    // replaced the l_orderkey self-join — probe that Σ basket² stays
    // the bound when the order count (not basket size) grows 5x
    "basket_lift",
    // r13 session 2: the hash(u)-staged adjacency wedge self-join —
    // probe that Σ deg² on the color-sampled subgraph stays the bound
    // when the order count grows 5x
    "graph_link_jaccard")

  def main(args: Array[String]): Unit = {
    val spark0 = Graft.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark0.sparkContext.setLogLevel("ERROR")
    build(spark0)
    spark0.stop()
    val results = for (dir <- Seq("/root/testdata/sf0.1", Out)) yield {
      val spark = Graft.builder().master("local[32]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      // ann_topk_graph: the navigable-graph INDEX BUILD is per-corpus-
      // snapshot material (D37's knnJoin, whose fixed-centroid-budget
      // Σ|cell|² bound is documented there — at a real scale-up the
      // centroid count grows with the corpus to keep cells flat);
      // pre-warm it untimed so the probe measures the QUERY path,
      // whose sub-linear claim (bounded beam, broadcast walk state,
      // linear scans) is what the tripwire must gate.
      graft.ann.Knn.navGraphEdges(spark, dir).count()
      val times = probes.map { name =>
        System.gc()
        val t0 = System.nanoTime()
        val n = try SparkEntry.queries(name)(spark, dir).count()
          catch { case e: Throwable =>
            System.err.println(s"PROBE FAIL $name@$dir: ${e.getMessage}"); -1L }
        val dt = (System.nanoTime() - t0) / 1e9
        println(f"PROBE $dir $name rows=$n ${dt}%.1fs")
        // a query that ERRORS at scale is the worst regression of all —
        // don't let a -1 row count masquerade as a fast ratio
        if (n < 0) { println(s"SCALEPROBE PROBE ERROR: $name@$dir"); sys.exit(1) }
        name -> dt
      }
      // fresh staging per dir (session-scoped; no lake configured)
      graft.graph.GraphOps.invalidate(spark, dir)
      graft.graph.GraphSearch.invalidate(spark, dir)
      spark.stop()
      dir -> times
    }
    val Seq((_, base), (_, scaled)) = results
    val ratios = probes.indices.map { i =>
      val (n, t1) = base(i); val (_, t5) = scaled(i)
      (n, t1, t5, t5 / math.max(t1, 0.001))
    }
    val pairs = ratios.map { case (n, t1, t5, r) =>
      f""""$n":{"sf01":$t1%.1f,"sf05":$t5%.1f,"ratio":$r%.1f}"""
    }
    val json = pairs.mkString("{", ",", "}")
    println("SCALEPROBE " + json)
    java.nio.file.Files.write(java.nio.file.Paths.get("SCALEPROBE.json"),
      (json + "\n").getBytes("UTF-8"))
    // REGRESSION TRIPWIRE (the round-loop contract): 5x the data may
    // cost at most ~3x the time for every probe — a ratio above that
    // means a Σ|bucket|² constant or a plan shape drifted super-linear,
    // which plan snapshots can't catch. Fail LOUD, fail the round.
    val MaxRatio = 3.0
    val bad = ratios.filter(_._4 > MaxRatio)
    if (bad.nonEmpty) {
      bad.foreach { case (n, t1, t5, r) =>
        System.err.println(
          f"SCALEPROBE REGRESSION: $n is $r%.1fx at 5x data ($t1%.1fs -> $t5%.1fs), cap $MaxRatio")
      }
      sys.exit(1)
    }
  }
}
