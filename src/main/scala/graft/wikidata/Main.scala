package graft.wikidata

import org.apache.spark.sql.SparkSession

/** CLI mirroring the reference's surface (/root/reference/src/main.rs:17-121):
  *
  *   fetch <url> <destFile>                    — resumable dump download
  *   ingest <dumpPath> <outDir> [closureFile]  — dump → 9 parquet tables
  *   post [--only-cleanup|--no-cleanup] <tablesDir> <outDir>
  *                                             — 9 tables → final 3 tables
  *                                               (flags mirror main.rs:98-111:
  *                                               cascade-only / cleanup-only)
  *   entity <jsonFile> [closureFile]           — debug: show the 9 outputs
  *                                               for a single-entity file
  *
  * The download runs driver-side, not as a query-engine operator (SURVEY
  * A1/A2): `fetch` lands `latest-all.json.bz2` once (resumable — see
  * [[Fetch]]); bz2 is block-splittable so `spark.read.text` parallelizes the
  * decompress+parse for free (A3/A4).
  */
object Main {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS",
          Runtime.getRuntime.availableProcessors.toString))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .appName("geodb-spark")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // D5: 10 s progress/ETA lines + stalled-stage warnings for long runs
    // (reference src/main.rs:192-225, src/post/mod.rs:22-94).
    val progress = new graft.ProgressListener().start(spark)

    args.toList match {
      case "fetch" :: url :: dest :: Nil =>
        // Resumable dump download (A1/A2, reference src/input/http.rs):
        // Range+ETag mid-stream resume, 32×8 s bounded open retries.
        Fetch.download(url, java.nio.file.Paths.get(dest))
      case "ingest" :: dump :: out :: rest =>
        val classes = rest.headOption.map(loadClasses)
          .getOrElse(ClassSets.seedsOnly)
        val t = Extract.fromDump(spark, dump, classes)
        write(t, out)
      case "post" :: rest if rest.filterNot(_.startsWith("--")).size == 2 =>
        // flag parity with the reference (src/main.rs:98-111): default runs
        // cascade + cleanup; --no-cleanup stops after the 10-stage cascade
        // (debug: inspect the enriched 9-table state); --only-cleanup runs
        // the 9 cleanup scripts over a dir whose cities a previous
        // --no-cleanup run already enriched; both flags together is the
        // reference's hard error.
        val flags = rest.filter(_.startsWith("--")).toSet
        val unknown = flags -- Set("--only-cleanup", "--no-cleanup")
        require(unknown.isEmpty, s"unknown post flags: ${unknown.mkString(" ")}")
        val (doPost, doCleanup) =
          (flags("--only-cleanup"), flags("--no-cleanup")) match {
            case (true, true) =>
              System.err.println("Can't both do cleanup and not do cleanup")
              sys.exit(-1)
            case (true, false) => (false, true)
            case (false, true) => (true, false)
            case (false, false) => (true, true)
          }
        val Seq(in, out) = rest.filterNot(_.startsWith("--"))
        def rd(n: String) = spark.read.parquet(s"$in/$n")
        val enriched =
          if (doPost)
            Post.cascade(rd("countries"), rd("object_languages"),
              rd("languages"), rd("territorial_entities"),
              rd("territorial_entities_parents"), rd("cities"),
              rd("cities_countries"), rd("object_labels"))
          else {
            val c = rd("cities")
            require(c.columns.contains("native_label"),
              s"$in/cities is not cascade-enriched — run post (or post " +
                "--no-cleanup) before post --only-cleanup, the reference's " +
                "own precondition")
            c
          }
        if (!doCleanup) {
          // the reference's --no-cleanup leaves the 9-table layout in the
          // database with cities enriched in place; immutable storage
          // mirrors that as a copy: enriched cities + the 8 untouched
          // tables, so a later `post --only-cleanup <out> <final>` composes
          enriched.write.mode("overwrite").parquet(s"$out/cities")
          for (n <- Extract.tableNames if n != "cities")
            rd(n).write.mode("overwrite").parquet(s"$out/$n")
        } else {
          val f = Post.cleanup(rd("countries"), rd("object_languages"),
            rd("languages"), rd("object_labels"), enriched)
          // country-partitioned layout = the reference's cities(country)
          // index (setup.sql:48) as partition pruning
          f.cities.write.mode("overwrite").partitionBy("country")
            .parquet(s"$out/cities")
          f.citiesLabels.write.mode("overwrite").parquet(s"$out/cities_labels")
          f.citiesLanguages.write.mode("overwrite").parquet(s"$out/cities_languages")
        }
      case "entity" :: file :: rest =>
        val classes = rest.headOption.map(loadClasses)
          .getOrElse(ClassSets.seedsOnly)
        val t = Extract.fromDump(spark, file, classes)
        Extract.tableMap(t).foreach { case (name, df) =>
          println(s"== $name ==")
          df.show(100, truncate = false)
        }
      case _ =>
        System.err.println(
          "usage: fetch <url> <dest> | ingest <dump> <outDir> [closure] | " +
            "post [--only-cleanup|--no-cleanup] <in> <out> | " +
            "entity <file> [closure]")
        sys.exit(2)
    }
    progress.stop(spark)
    spark.stop()
  }

  /** Class sets from a closure file, or live from a SPARQL endpoint when
    * the argument is an http(s) URL (A9, wiki_sparql.rs:9-67). */
  private def loadClasses(arg: String): ClassSets =
    if (arg.startsWith("http://") || arg.startsWith("https://"))
      ClassSets.fromSparql(arg)
    else ClassSets.fromClosureFile(arg)

  private def write(t: Extract.Tables, out: String): Unit = {
    // Partition-parallel parquet writes replace the single-writer SQLite
    // sink (A12); keyed dedups already applied upstream (A13).
    Extract.tableMap(t).foreach { case (name, df) =>
      val t0 = System.nanoTime()
      df.write.mode("overwrite").parquet(s"$out/$name")
      println(f"[ingest] wrote $name in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    }
  }
}
