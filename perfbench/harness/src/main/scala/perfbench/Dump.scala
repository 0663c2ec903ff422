package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.{SparkEntry, Tables}

/** Writes every SQL text whose DuckDB result the runs compare against:
  * the oracle SQL of the ops_pipeline and catalog queries, and the SQL
  * of every query in the sql_lab pool. `perfbench/expected.py` reads it. */
object Dump {
  def run(opts: Opts, spark: SparkSession): Unit = {
    val oracle = SparkEntry.oracleSql
    val ops = OpsPipeline.Queries.filter(oracle.contains).map(q => s"ops:$q" -> oracle(q))
    val catalog = SqlLab.Catalog.map(q => s"catalog:$q" -> oracle(q))
    val entries = (ops ++ catalog).map { case (id, sql) =>
      Map("id" -> id, "sql" -> sql, "sql_sha" -> Util.sha(sql)) } ++
      Band.pool(Band.load(opts.repoFile(Band.Path))).map { q =>
        Map("id" -> s"band:${Util.sha(q.sql)}", "sql" -> q.sql, "sql_sha" -> Util.sha(q.sql),
          "bucket" -> q.bucket, "seconds" -> q.seconds) }
    Files.writeString(Paths.get(opts.out), Json(Map(
      "fingerprint" -> Tables.canonFingerprint(opts.data).toString, "entries" -> entries)) + "\n")
    spark.stop()
  }
}
