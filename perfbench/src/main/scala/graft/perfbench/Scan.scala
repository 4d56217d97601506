package graft.perfbench

import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.ObjectMapper

import graft.SparkEntry

/** Runs every named query once, each in a fresh session so no shared
  * index carries over from another query, and records per query its
  * fingerprint, row count, wall time and the shared indexes it built.
  * With a dump directory it also writes each collected result as parquet,
  * with `oracle_sql.json`, in the layout `tools/check_oracle.py` reads, so
  * the fingerprinted rows themselves are what the DuckDB oracle checks.
  * `fingerprints.py` turns two such scans into the committed expected
  * fingerprints.
  *
  * Usage: Scan <data_dir> <out.json> <work_dir> [dump_dir|-] [q1,q2,...] */
object Scan {
  def main(args: Array[String]): Unit = {
    val Array(data, outPath, work) = args.take(3)
    val dump = args.lift(3).filter(_ != "-")
    val names = args.lift(4).map(_.split(",").toSeq)
      .getOrElse(SparkEntry.queries.keys.toSeq.sorted)
    val root = Main.session(work)
    val mapper = new ObjectMapper()
    val out = mapper.createObjectNode()
    names.foreach { name =>
      val spark = root.newSession()
      val before = Tracer.indexBuilds()
      val o = out.putObject(name)
      try {
        val (wall, df, rows) = Main.timedCall(Tracer.Off, 0, name)(
          SparkEntry.queries(name)(spark, data))
        o.put("fp", Fingerprint.of(df.schema, rows, SparkEntry.oracleSql.contains(name)))
          .put("rows", rows.length).put("wall_s", wall)
        dump.foreach { d =>
          root.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
            .coalesce(1).write.mode("overwrite").parquet(s"$d/$name")
        }
      } catch {
        case scala.util.control.NonFatal(e) =>
          o.put("error", s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
      }
      val built = Tracer.indexBuilds().filter { case (k, v) => v > before.getOrElse(k, 0L) }
      val arr = o.putArray("index_builds")
      built.keys.toSeq.sorted.foreach(arr.add)
      Main.dropTempViews(spark)
      System.err.println(s"[scan] $name ${o.toString.take(200)}")
    }
    Files.writeString(Paths.get(outPath), mapper.writerWithDefaultPrettyPrinter()
      .writeValueAsString(out))
    dump.foreach { d =>
      val sql = mapper.createObjectNode()
      SparkEntry.oracleSql.toSeq.sortBy(_._1).foreach { case (k, v) => sql.put(k, v) }
      Files.writeString(Paths.get(s"$d/oracle_sql.json"), mapper.writeValueAsString(sql))
    }
    root.stop()
  }
}
