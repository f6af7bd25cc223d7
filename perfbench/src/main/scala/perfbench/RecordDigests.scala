package perfbench

import org.apache.spark.sql.SparkSession

/** Prints `<query> <digest>` for each query output `graft.Verify` wrote
  * under a directory: how `expected_digests.tsv` is made from a Verify
  * run whose outputs passed `tools/check_oracle.py`.
  *
  * {{{
  * RecordDigests <verify out dir> <query name>...
  * }}}
  */
object RecordDigests {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    for (name <- args.tail) {
      val df = spark.read.parquet(s"${args(0)}/$name")
      val cols = Digest.columns(df)
      val row = df.agg(cols.head, cols.tail: _*).head()
      println(s"$name\t${Digest.of(Obs(row.getValuesMap(row.schema.fieldNames.toSeq)))}")
    }
    spark.stop()
  }
}
