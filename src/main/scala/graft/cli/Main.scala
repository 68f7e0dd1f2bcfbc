package graft.cli

import org.apache.spark.sql.SparkSession
import graft.SparkEntry

/** CLI surface (reference: cli/main.py + cli/query.py): list the query
  * registry, run a query with text/JSON output, print its physical
  * plan, or run the availability-domain commands against a fact-table
  * path (the reference's `query snapshot|timeline|analytics|volume`).
  *
  * Usage:
  *   graft.cli.Main list
  *   graft.cli.Main run <query> <sfDir> [--json] [--limit N]
  *   graft.cli.Main explain <query> <sfDir>
  *   graft.cli.Main snapshot  <factPath> <yyyy-MM-dd> [--json]
  *   graft.cli.Main timeline  <factPath> <symbol>     [--json]
  *   graft.cli.Main analytics <factPath>              [--json]
  *   graft.cli.Main volume    <factPath> <yyyy-MM-dd> [--top N] [--json]
  */
object Main {
  import graft.api.AvailabilityQueries

  private def emit(df: org.apache.spark.sql.DataFrame, rest: Seq[String],
                   defaultLimit: Int = 1000): Unit = {
    val limit = rest.sliding(2).collectFirst {
      case Seq("--limit", n) => n.toInt
    }.getOrElse(defaultLimit)
    if (rest.contains("--json")) df.limit(limit).toJSON.collect().foreach(println)
    else df.show(limit, truncate = false)
  }
  /** Run `body` with a session, stopping it afterwards ONLY if this CLI
    * call created it. `Sessions.local` is `getOrCreate`: when the CLI is
    * invoked in-process (specs, notebooks) it receives the caller's
    * session, and stopping that would kill every later query in the
    * host JVM — the session's lifecycle belongs to whoever started it.
    */
  private def withSession(body: SparkSession => Unit): Unit = {
    val preExisting = SparkSession.getDefaultSession.isDefined
    val spark = graft.Sessions.local("graft-cli")
    try body(spark)
    finally if (!preExisting) spark.stop()
  }

  def main(args: Array[String]): Unit =
    try run(args)
    catch {
      // Malformed numeric/date arguments get the usage path, not a raw
      // stack trace after the session has already started.
      case e @ (_: NumberFormatException | _: IllegalArgumentException) =>
        System.err.println(s"bad argument: ${e.getMessage}")
        sys.exit(2)
    }

  private def run(args: Array[String]): Unit = args.toList match {
    case "list" :: Nil =>
      SparkEntry.queries.keys.toSeq.sorted.foreach(println)

    case "run" :: name :: sfDir :: rest =>
      SparkEntry.queries.get(name) match {
        case None =>
          System.err.println(s"unknown query: $name (try 'list')"); sys.exit(2)
        case Some(fn) =>
          withSession(spark => emit(fn(spark, sfDir), rest, defaultLimit = 20))
      }

    case "explain" :: name :: sfDir :: Nil =>
      SparkEntry.queries.get(name) match {
        case None =>
          System.err.println(s"unknown query: $name (try 'list')"); sys.exit(2)
        case Some(fn) =>
          withSession(spark => fn(spark, sfDir).explain("formatted"))
      }

    case "snapshot" :: path :: date :: rest =>
      withSession(spark => emit(AvailabilityQueries.availableSymbolsOnDate(
        AvailabilityQueries.open(spark, path), java.sql.Date.valueOf(date)), rest))

    case "timeline" :: path :: symbol :: rest =>
      withSession(spark =>
        emit(AvailabilityQueries.symbolTimeline(AvailabilityQueries.open(spark, path), symbol), rest))

    case "analytics" :: path :: rest =>
      withSession(spark =>
        emit(AvailabilityQueries.dailyAvailabilityCounts(AvailabilityQueries.open(spark, path)), rest))

    case "volume" :: path :: date :: rest =>
      val n = rest.sliding(2).collectFirst {
        case Seq("--top", v) => v.toInt
      }.getOrElse(10)
      withSession(spark => emit(AvailabilityQueries.topSymbolsByVolume(
        AvailabilityQueries.open(spark, path), java.sql.Date.valueOf(date), n), rest))

    // reference `query range <start> <end>` (cli/query.py:70-89,182):
    // distinct symbols available in the range; --counts switches to the
    // per-day count variant (analytics.py:160-204).
    case "range" :: path :: start :: end :: rest =>
      withSession { spark =>
        val df =
          if (rest.contains("--counts"))
            AvailabilityQueries.symbolCountByDateRange(AvailabilityQueries.open(spark, path),
              java.sql.Date.valueOf(start), java.sql.Date.valueOf(end))
          else
            AvailabilityQueries.symbolsInRange(AvailabilityQueries.open(spark, path),
              java.sql.Date.valueOf(start), java.sql.Date.valueOf(end))
        emit(df, rest)
      }

    // reference `query volume percentile <symbol> <date>` (volume.py:96-146)
    case "percentile" :: path :: symbol :: date :: rest =>
      withSession(spark => emit(AvailabilityQueries.volumePercentile(
        AvailabilityQueries.open(spark, path), symbol, java.sql.Date.valueOf(date)), rest))

    // sketch-tier extensions of the reference's volume math: per-symbol
    // volume quantiles from the mergeable bottom-k sample, and
    // most-available symbols from per-month heavy-hitter summaries.
    case "volquantiles" :: path :: start :: end :: rest =>
      val k = rest.sliding(2).collectFirst {
        case Seq("--k", v) => v.toInt
      }.getOrElse(256)
      withSession(spark => emit(AvailabilityQueries.volumeQuantileSketch(
        AvailabilityQueries.open(spark, path), java.sql.Date.valueOf(start),
        java.sql.Date.valueOf(end), k), rest))

    case "mostavailable" :: path :: rest =>
      val n = rest.sliding(2).collectFirst {
        case Seq("--top", v) => v.toInt
      }.getOrElse(20)
      withSession(spark => emit(AvailabilityQueries.mostAvailableSymbols(
        AvailabilityQueries.open(spark, path), topK = n), rest))

    case "sampledays" :: path :: rest =>
      val k = rest.sliding(2).collectFirst {
        case Seq("--k", v) => v.toInt
      }.getOrElse(10)
      withSession(spark => emit(AvailabilityQueries.sampleDays(
        AvailabilityQueries.open(spark, path), k), rest))

    // ---- extension tier: the LLM-pipeline operators, reference-style
    // ergonomics (cli/query.py:135-189 exposes analytics the same way).

    // Near-duplicate audit over the documents table: one row per
    // dedup signal (exact groups, MinHash-LSH verified pairs, clusters).
    case "dedupreport" :: sfDir :: rest =>
      withSession { spark =>
        import spark.implicits._
        val docs = graft.Tables.documents(spark, sfDir)
          .select($"doc_id".as("id"), $"text")
        val exact = graft.ops.Dedup.exactGroups(docs, "id", "text").count()
        val pairs = graft.ops.Dedup.nearDupPairs(docs, "id", "text")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val nPairs = pairs.count()
        val nClusters = graft.ops.Dedup.dupClusters(pairs)
          .select("cluster_id").distinct().count()
        pairs.unpersist()
        emit(Seq(
          ("n_docs", docs.count()),
          ("n_exact_dup_groups", exact),
          ("n_near_dup_pairs", nPairs),
          ("n_dup_clusters", nClusters)).toDF("metric", "value"), rest)
      }

    // Top-k cosine neighbors of one stored embedding (brute-force —
    // the exact baseline; the ANN variants are `run q_e2..q_e6`).
    case "annsearch" :: sfDir :: vecId :: rest =>
      val k = rest.sliding(2).collectFirst {
        case Seq("--k", v) => v.toInt
      }.getOrElse(10)
      withSession { spark =>
        import spark.implicits._
        val vecs = graft.Tables.embeddings(spark, sfDir)
          .select($"vec_id".as("vid"), $"embedding".cast("array<double>").as("e"))
        emit(graft.ops.Vectors.knnBruteForce(
          vecs.filter($"vid" =!= vecId.toLong),
          vecs.filter($"vid" === vecId.toLong), k), rest)
      }

    // Learned quality scores: train the count-based classifier on the
    // lang='en' plant and rank documents by normalized score.
    case "quality" :: sfDir :: rest =>
      withSession { spark =>
        import spark.implicits._
        val docs = graft.Tables.documents(spark, sfDir)
        val model = graft.ops.Classify.nbTrain(docs, "text", $"lang" === "en")
        emit(graft.ops.Classify.nbScore(docs, "doc_id", "text", model)
          .withColumn("score_per_tok",
            $"score".cast("double") / $"n_tok")
          .orderBy($"score_per_tok".desc, $"doc_id"), rest)
      }

    // Multimodal dedup audit: one row per modality with decoded-media
    // and perceptual-near-dup counts (images dHash-banded, audio
    // energy-fingerprint-banded, videos by shared-frame overlap) — the
    // media sibling of `dedupreport`.
    case "mediareport" :: sfDir :: rest =>
      withSession { spark =>
        import spark.implicits._
        import graft.ops.Multimodal
        def ids = graft.ops.Partitioning.spread(graft.Tables.documents(spark, sfDir))
          .select($"doc_id".as("media_id")).as[Long]
        val imgs = Multimodal.imageDHash(
          ids.map(m => graft.ops.MediaRecord(m, "image", Multimodal.synthPng(m)))).toDF()
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val auds = Multimodal.audioFingerprint(
          ids.map(m => graft.ops.MediaRecord(m, "audio", Multimodal.synthWav(m))))
        val vids = Multimodal.videoFrameHashes(
          ids.filter(_ % 5 == 0)
            .map(m => graft.ops.MediaRecord(m, "video", Multimodal.synthVideo(m))))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val out = Seq(
          ("image", imgs.count(), Multimodal.imageNearDupPairs(imgs, 4).count()),
          ("audio", auds.count(), Multimodal.audioNearDupPairs(auds, 4).count()),
          ("video", vids.select("media_id").distinct().count(),
            Multimodal.videoNearDupPairs(vids, 2).count()))
          .toDF("modality", "n_decoded", "n_near_dup_pairs")
        imgs.unpersist(); vids.unpersist()
        emit(out, rest)
      }

    // BM25 full-text search over the documents table: space-separated
    // query terms, top-k by the integer-exact surrogate score.
    case "search" :: sfDir :: query :: rest =>
      val k = rest.sliding(2).collectFirst {
        case Seq("--k", v) => v.toInt
      }.getOrElse(10)
      withSession { spark =>
        emit(graft.ops.TextOps.bm25Rank(
          graft.Tables.documents(spark, sfDir), "doc_id", "text",
          query.split("\\s+").toSeq.map(_.toLowerCase), k), rest)
      }

    // Key-skew diagnostics for a prospective join/aggregation key —
    // decides whether a salted join is worth it before paying for the
    // skewed shuffle.
    case "skewreport" :: path :: key :: rest =>
      withSession { spark =>
        emit(graft.ops.Skew.keySkewReport(
          spark.read.parquet(path), key, key), rest)
      }

    // Robust per-type volume trend over the events feed: Theil–Sen
    // slope (median of pairwise slopes — outlier-immune) per event_type.
    case "trend" :: sfDir :: rest =>
      withSession { spark =>
        import org.apache.spark.sql.functions._
        val c = graft.Tables.events(spark, sfDir)
          .select(col("event_type"),
            datediff(to_date(col("ts")),
              lit("1970-01-01").cast("date")).as("ed"))
          .groupBy("event_type", "ed").agg(count(lit(1)).as("cnt"))
        emit(graft.ops.Temporal.theilSenTrend(c, "event_type", "ed", "cnt",
          maxDx = 29, scaleL = 2329089562800L).orderBy("event_type"), rest)
      }

    // reference cross-check validator (cross_check.py:79-137): DB symbols
    // on a date vs a saved exchangeInfo response body.
    case "crosscheck" :: path :: jsonPath :: date :: rest =>
      withSession { spark =>
        val body = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(jsonPath)), "UTF-8")
        val api = graft.ingest.Ingest.parseExchangeInfo(spark, body)
        emit(AvailabilityQueries.crossCheckSymbols(
          AvailabilityQueries.open(spark, path), api, java.sql.Date.valueOf(date)), rest)
      }

    // the composed curation pipeline over the documents table: emits the
    // per-stage drop manifest; --out <dir> also writes the survivors.
    case "curate" :: sfDir :: rest =>
      withSession { spark =>
        import org.apache.spark.sql.functions.col
        val docs = graft.Tables.documents(spark, sfDir)
          .select(col("doc_id").as("id"), col("text"), col("source"), col("lang"))
        val evalSet = docs.filter(col("id") % 97 === 0).select(col("id"), col("text"))
        // Store-backed staged run: --run-dir names the stage store (a
        // re-run with the same dir RESUMES past completed stages — the
        // operational restart story); default is an ephemeral temp dir.
        val named = rest.sliding(2).collectFirst { case Seq("--run-dir", d) => d }
        val runDir = named
          .getOrElse(java.nio.file.Files.createTempDirectory("graft-curate").toString + "/run")
        val (survivors, manifest) = graft.ops.Curate.pipelineStaged(docs, evalSet,
          lexicon = Map("latency" -> Seq("slow", "fast"), "size" -> Seq("big", "small")),
          blockThreshold = 8,
          nbLabel = col("lang") === "en", nbFeatures = 256,
          mixRates = Map("src0" -> 1.0, "src1" -> 1.0,
            "src2" -> 0.5, "src3" -> 0.5, "src4" -> 0.5),
          mixDefault = 0.1, runDir = runDir)
        rest.sliding(2).collectFirst { case Seq("--out", dir) => dir }
          .foreach(dir => survivors.write
            .mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(dir))
        emit(manifest.orderBy("stage"), rest)
        // An EPHEMERAL run dir (no --run-dir) holds a full copy of every
        // inter-stage frame with no resume value once the survivors and
        // manifest are consumed — drop it; a NAMED dir is the caller's
        // restart/provenance record and is kept.
        if (named.isEmpty) {
          def rm(f: java.io.File): Unit = {
            if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
            f.delete()
          }
          rm(new java.io.File(runDir).getParentFile)
        }
      }

    // writer-startup repair: complete or roll back any crash-stranded
    // two-phase state (compaction swap dirs; under --versioned, the
    // publish record of a snapshot flip killed before its marker).
    // SINGLE-WRITER: recover takes the table's writer lease, so it
    // refuses (LeaseHeld) rather than destroy a LIVE writer's in-flight
    // rewrite; a crashed writer's lease expires after the TTL, or pass
    // --break-lease to remove it now — ONLY when you know no writer is
    // alive (a broken lease under a live compact loses its rewrite).
    case "recover" :: path :: rest =>
      withSession { spark =>
        if (rest.contains("--break-lease")) {
          // the store's own lease, plus (under --versioned) the snapshot
          // root's writer lease — Versioned.recover acquires that one,
          // so breaking only the sibling file would still leave a
          // crashed versioned writer blocking with LeaseHeld.
          val leases = Seq(new org.apache.hadoop.fs.Path(path + ".lease"),
            new org.apache.hadoop.fs.Path(path + ".lease.breaking")) ++
            (if (rest.contains("--versioned"))
               Seq(new org.apache.hadoop.fs.Path(path, "_writer.lease"),
                 new org.apache.hadoop.fs.Path(path, "_writer.lease.breaking"))
             else Seq.empty)
          leases.foreach { lease =>
            val fs = lease.getFileSystem(spark.sparkContext.hadoopConfiguration)
            if (fs.delete(lease, false)) println(s"broke lease ${lease.getName}")
          }
        }
        val actions = graft.ops.Store.recover(spark, path) ++
          (if (rest.contains("--versioned")) graft.ops.Versioned.recover(spark, path)
           else Seq.empty)
        if (actions.isEmpty) println("healthy: no repair needed")
        else actions.foreach(a => println(s"repaired: $a"))
      }

    case _ =>
      System.err.println(
        "usage: list | run <query> <sfDir> [--json] [--limit N] | " +
          "explain <query> <sfDir> | snapshot <path> <date> | " +
          "timeline <path> <symbol> | analytics <path> | " +
          "volume <path> <date> [--top N] | " +
          "range <path> <start> <end> [--counts] | " +
          "percentile <path> <symbol> <date> | " +
          "volquantiles <path> <start> <end> [--k N] | " +
          "sampledays <path> [--k N] | " +
          "mostavailable <path> [--top N] | " +
          "crosscheck <path> <exchangeInfo.json> <date> | " +
          "dedupreport <sfDir> | annsearch <sfDir> <vecId> [--k N] | " +
          "quality <sfDir> | mediareport <sfDir> | " +
          "search <sfDir> <terms> [--k N] | skewreport <path> <key> | " +
          "trend <sfDir> | recover <path> [--versioned] [--break-lease] | " +
          "curate <sfDir> [--out dir] [--run-dir dir]")
      sys.exit(2)
  }
}
