package graft

import graft.pipeline.AnalysisPipeline
import graft.recommend.Recommender
import graft.report.ReportExporter
import org.apache.spark.sql.SparkSession

/** CLI entry point — the analog of the reference's `python -m src.cli`
  * (cli.py:11-137): run the advisor, print the partition scripts, export the
  * dashboard artifacts; dry-run by default. `--execute` applies each
  * recommendation: against a filesystem Iceberg table it commits a REAL
  * `REPLACE PARTITION SPEC` via [[graft.catalog.IcebergMeta]] (S5, the
  * native form of cli.py:124-133); against the parquet fixtures it
  * materializes the first partition key as a partitioned layout (T5, the
  * physical effect of the spec).
  *
  * Usage:
  *   graft.Main [--sf-dir DIR] [--out-dir DIR] [--time-filter SQL] [--execute]
  *              [--catalog rest:URL | hms:thrift://host:port/db] [--namespace NS]
  *
  * `--catalog rest:<url>` (with `--execute`) commits every recommendation
  * through the Iceberg REST catalog protocol at `<url>` (namespace
  * `--namespace`, default `default`) instead of probing filesystem tables —
  * the deployment shape where a catalog service owns the metadata pointer.
  * `--catalog hms:thrift://host:port/db` does the same through a Hive
  * Metastore (pointer swap under an exclusive HMS table lock — the
  * reference's hive.metastore.uri deployment shape, config.py:16).
  *
  * `--time-filter` is a SQL predicate over the QUERY LOG, whose `ts` column
  * is epoch-nanos BIGINT (the engine-wide contract) — e.g.
  * `"ts >= 1704844800000000000"`. It scopes BOTH the recommendations and
  * the exported artifacts to the same window.
  */
object Main {
  def main(args: Array[String]): Unit = {
    var sfDir = "/root/testdata/sf0.001"
    var outDir = "results"
    var timeFilter: Option[String] = None
    var execute = false
    var catalog: Option[String] = None
    var namespace = "default"
    var i = 0
    def valueOf(flag: String): String = {
      if (i + 1 >= args.length) {
        System.err.println(s"$flag needs a value"); sys.exit(2)
      }
      args(i + 1)
    }
    while (i < args.length) {
      args(i) match {
        case f @ "--sf-dir" => sfDir = valueOf(f); i += 2
        case f @ "--out-dir" => outDir = valueOf(f); i += 2
        case f @ "--time-filter" => timeFilter = Some(valueOf(f)); i += 2
        case "--execute" => execute = true; i += 1
        case f @ "--catalog" =>
          // validate HERE: a scheme typo must fail before the (expensive)
          // analysis run, like every other bad flag — not after it
          val c = valueOf(f)
          if (!c.startsWith("rest:") && !c.startsWith("hms:")) {
            System.err.println(
              s"unsupported --catalog '$c' (expected rest:<url> or hms:thrift://host:port/db)")
            sys.exit(2)
          }
          if (c.startsWith("hms:")) // URI shape fails fast too
            graft.catalog.IcebergHms.parseUri(c.stripPrefix("hms:"))
          catalog = Some(c); i += 2
        case f @ "--namespace" => namespace = valueOf(f); i += 2
        case other => System.err.println(s"unknown arg: $other"); sys.exit(2)
      }
    }

    val spark = SparkEntry.builder(sys.env.getOrElse("SPARK_MASTER", "local[4]"),
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
      .appName("graft-advisor")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    try advise(spark, sfDir, outDir, timeFilter, execute, catalog, namespace)
    finally spark.stop()
  }

  /** Everything Main does with a session: print the balance-vetted advice,
    * export the artifacts, and under `execute` apply each accepted spec. */
  private[graft] def advise(spark: SparkSession, sfDir: String, outDir: String,
      timeFilter: Option[String], execute: Boolean, catalog: Option[String],
      namespace: String): Unit = {
    // ONE balance-vetted advice, under the same timeFilter, is what is
    // printed, exported and applied — a filtered dashboard next to
    // whole-history scripts, or exported candidates --execute would not
    // apply, would silently mislead; demoted candidates are excluded
    val advice = AnalysisPipeline.adviceFor(spark, sfDir, timeFilter = timeFilter,
      maxSkew = Some(AnalysisPipeline.defaultMaxSkew))
    val recs = advice.recommendations
    recs.foreach(r => println(r.script))

    ReportExporter.export(spark, sfDir, outDir, advice, timeFilter)
    println(s"artifacts exported to $outDir/")

    // `--catalog rest:<url>` routes commits through the Iceberg REST
    // catalog protocol (the service is the commit authority); tables the
    // service does not serve fall through to the filesystem probe, and a
    // commit failure on one view must not abort the remaining views
    // (partial application with no report is worse than either outcome)
    val restCat = catalog.filter(_.startsWith("rest:")).map(c =>
      graft.catalog.IcebergRest.Catalog(c.stripPrefix("rest:"), namespace))
    val hmsCat = catalog.filter(_.startsWith("hms:")).map(c =>
      graft.catalog.IcebergHms.parseUri(c.stripPrefix("hms:")))

    if (execute) {
      for (Recommender.Recommendation(view, Some(spec), _) <- recs) {
        val tableDir = s"$sfDir/$view"
        if (restCat.exists(c => graft.catalog.IcebergRest.isIcebergTable(c, view))) {
          try {
            val specId = graft.catalog.IcebergRest.applySpec(restCat.get, view, spec)
            println(s"committed REPLACE PARTITION SPEC for $view via REST catalog " +
              s"(default-spec-id $specId)")
          } catch { case scala.util.control.NonFatal(e) =>
            System.err.println(s"REST commit FAILED for $view: ${e.getMessage} " +
              "— continuing with the remaining recommendations")
          }
        } else if (hmsCat.exists(c => graft.catalog.IcebergHms.isIcebergTable(c, view))) {
          try {
            val loc = graft.catalog.IcebergHms.applySpec(spark, hmsCat.get, view, spec)
            println(s"committed REPLACE PARTITION SPEC for $view via HMS catalog " +
              s"(metadata $loc)")
          } catch { case scala.util.control.NonFatal(e) =>
            System.err.println(s"HMS commit FAILED for $view: ${e.getMessage} " +
              "— continuing with the remaining recommendations")
          }
        } else if (graft.catalog.IcebergMeta.isIcebergTable(spark, tableDir)) {
          // S5 executed natively: the table is a filesystem Iceberg
          // table, so REPLACE PARTITION SPEC commits as real spec
          // evolution against its metadata (cli.py:124-133's execute).
          // Guarded like the catalog branches: one failed commit (e.g. a
          // supersession or an inconclusive verification) must not abort
          // the remaining views
          try {
            val v = graft.catalog.IcebergMeta.applySpec(spark, tableDir, spec)
            println(s"committed REPLACE PARTITION SPEC for $view (metadata v$v)")
          } catch { case scala.util.control.NonFatal(e) =>
            System.err.println(s"filesystem commit FAILED for $view: ${e.getMessage} " +
              "— continuing with the remaining recommendations")
          }
        } else {
          // parquet fixture: materialize the first partition key as a
          // real partitioned layout (the physical effect of the spec);
          // fragment splitting goes through THE shared depth-aware
          // splitter, not an ad-hoc split that breaks on `bucket(4, c)`
          val firstSpec = graft.catalog.IcebergMeta.splitFragments(spec).head
          val df = graft.catalog.TableRegistry.table(spark, sfDir, view)
          val (colName, partCol) = graft.recommend.SpecParser.toColumn(firstSpec, df)
          df.withColumn(s"__p_$colName", partCol)
            .write.mode("overwrite").partitionBy(s"__p_$colName")
            .parquet(s"$outDir/partitioned/$view")
          println(s"materialized $view partitioned by $firstSpec")
        }
      }
    } else {
      println("dry run (pass --execute to materialize partitioned layouts)")
    }
  }
}
