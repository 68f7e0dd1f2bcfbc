package graft

/** Smoke coverage for the CLI surface: the registry listing and the
  * explain path (both driver-visible entry points). The domain commands
  * (snapshot/timeline/...) are exercised through AvailabilitySpec on
  * the same API methods the CLI delegates to.
  */
class CliSpec extends SparkSpec {

  private def captureOut(body: => Unit): String = {
    val bos = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(bos, true, "UTF-8"))(body)
    bos.toString("UTF-8")
  }

  test("list prints the full sorted query registry") {
    val out = captureOut(cli.Main.main(Array("list")))
    val names = out.linesIterator.toSeq
    names should contain("q_f1_snapshot")
    names should contain("q_rankings_pipeline")
    names.size shouldBe SparkEntry.queries.size
    names shouldBe names.sorted
  }

  test("explain prints a physical plan for a registered query") {
    val out = captureOut(
      cli.Main.main(Array("explain", "q_f1_snapshot", "/root/testdata/sf0.001")))
    out should include("Physical Plan")
    out should include("PushedFilters")
  }

  test("dedupreport emits the four dedup audit metrics") {
    val out = captureOut(
      cli.Main.main(Array("dedupreport", "/root/testdata/sf0.001", "--json")))
    out should include("n_docs")
    out should include("n_exact_dup_groups")
    out should include("n_near_dup_pairs")
    out should include("n_dup_clusters")
  }

  test("mediareport audits near-dups across all three modalities") {
    val out = captureOut(
      cli.Main.main(Array("mediareport", "/root/testdata/sf0.001", "--json")))
    for (m <- Seq("image", "audio", "video")) out should include(m)
    out should include("n_near_dup_pairs")
  }

  test("annsearch returns k scored neighbors of a stored embedding") {
    val out = captureOut(
      cli.Main.main(Array("annsearch", "/root/testdata/sf0.001", "0", "--k", "3", "--json")))
    val rows = out.linesIterator.filter(_.contains("cos_sim")).toSeq
    rows.size shouldBe 3
    rows.head should include("vid")
  }

  test("quality ranks documents by learned normalized score") {
    val out = captureOut(
      cli.Main.main(Array("quality", "/root/testdata/sf0.001", "--limit", "5", "--json")))
    val rows = out.linesIterator.filter(_.contains("score_per_tok")).toSeq
    rows.size shouldBe 5
    rows.head should include("doc_id")
  }

  test("search ranks documents by BM25 for space-separated terms") {
    val out = captureOut(
      cli.Main.main(Array("search", "/root/testdata/sf0.001", "vector spark",
        "--k", "3", "--json")))
    val rows = out.linesIterator.filter(_.contains("score")).toSeq
    rows.size shouldBe 3
    rows.head should include("id")
  }

  test("trend reports a robust slope per event type") {
    val out = captureOut(
      cli.Main.main(Array("trend", "/root/testdata/sf0.001", "--json")))
    out should include("slope_scaled")
    out should include("trend")
  }

  test("skewreport diagnoses a prospective shuffle key") {
    val out = captureOut(
      cli.Main.main(Array("skewreport", "/root/testdata/sf0.001/lineitem.parquet",
        "l_orderkey", "--json")))
    out should include("top_share_ppm")
    out should include("salt_advised")
  }

  test("curate emits the six-stage drop manifest and writes survivors") {
    val out = java.nio.file.Files.createTempDirectory("graft-clicur").toString + "/surv"
    val text = captureOut(
      cli.Main.main(Array("curate", "/root/testdata/sf0.001", "--out", out, "--json")))
    Seq("blocklist", "gopher", "quality", "neardup", "decontaminate", "mixture")
      .foreach(stage => text should include(stage))
    text should include("rows_dropped")
    // the survivors parquet is written by the same run that made the manifest
    spark.read.parquet(out).columns should contain("text")
  }

  test("recover --versioned drops the publish record of a flip killed " +
    "before its marker") {
    import spark.implicits._
    import graft.ops.Versioned
    val root = java.nio.file.Files.createTempDirectory("graft-clivrec").toString
    Versioned.write(spark, root, Seq(1).toDF("v"))
    Seq(1, 2).toDF("v").write.parquet(s"$root/v=1")
    new java.io.File(root, "_published.v=1").createNewFile() shouldBe true
    captureOut(cli.Main.main(Array("recover", root, "--versioned"))) should
      include("v=1")
    Versioned.readLatest(spark, root).count() shouldBe 1
  }

  test("recover repairs a crash-stranded compaction swap and reports it") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-clirec").toString
    val path = s"$root/t"
    Seq((1L, "a"), (2L, "b")).toDF("v", "part")
      .write.partitionBy("part").parquet(path)
    captureOut(cli.Main.main(Array("recover", path))) should include("healthy")
    // strand the between-renames state: live moved aside, tmp verified
    new java.io.File(path).renameTo(new java.io.File(path + ".compacting"))
    new java.io.File(path + ".compacting").listFiles() // touch
    java.nio.file.Files.createDirectory(java.nio.file.Paths.get(path + ".pre-compact"))
    val out = captureOut(cli.Main.main(Array("recover", path)))
    out should include("repaired")
    spark.read.parquet(path).count() shouldBe 2L
  }
}
