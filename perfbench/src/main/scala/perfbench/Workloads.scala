package perfbench

import graft.ml.{LGBMClassifier, LGBMParams, LGBMRegressor}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The aggregates an action observed, by name. */
final case class Obs(values: Map[String, Any]) {
  def get[T](k: String): T = values(k).asInstanceOf[T]
  def long(k: String): Long = get[Long](k)
  def double(k: String): Double = get[Double](k)
}

/** One op of a workload. `build` calls the layer's eager entry point (a
  * fit, or `QueryDef.fn`) and returns the lazy remainder; the harness
  * runs that remainder as the action, through the `noop` sink, observing
  * `observed` plus the output digest in the same pass. `check` turns the
  * observed row into failure messages and `quality` into named model
  * quality figures. `trees` is the number of trees the op's fits grow,
  * for jobs per tree. */
final case class Op(
    name: String,
    trees: Int,
    build: SparkSession => (() => DataFrame),
    observed: Seq[Column] = Nil,
    check: Obs => Seq[String] = _ => Nil,
    quality: Obs => Seq[(String, Double)] = _ => Nil)

/** A workload: its op list, the phase names its ops report (fit/predict
  * for the `ml` layer, build/action for the operators), and the inputs it
  * prepares at set-up. */
final case class Workload(
    phases: (String, String),
    prepare: SparkSession => Unit,
    ops: Seq[Op],
    /** Rows one cycle's predictions score (gbm_covtype). */
    predictRows: Long = 0L)

/** Order-insensitive digest of a frame's rows: row count, XOR and sum of
  * the rows' xxhash64. Observed during the action itself, so checking
  * an output costs no second pass over it. */
object Digest {
  def columns(df: DataFrame): Seq[Column] = {
    val h = xxhash64(df.columns.toSeq.map(c => df.col(s"`$c`")): _*)
    Seq(count(lit(1)).as("d_n"), bit_xor(h).as("d_xor"),
      sum(h.cast("decimal(38,0)")).as("d_sum"))
  }

  def of(r: Obs): String =
    f"${r.long("d_n")}:${r.long("d_xor")}%016x:" +
      r.get[java.math.BigDecimal]("d_sum").toPlainString
}

object Workloads {
  /** Registered board queries, by name prefix. */
  private def query(prefix: String) = graft.SparkEntry.queries
    .find(_._1.startsWith(prefix + "_"))
    .getOrElse(sys.error(s"no registered query $prefix"))

  /** A board query as an op: build is `QueryDef.fn` over the fixed
    * testdata, and the output must match its recorded digest. */
  private def boardOp(prefix: String, data: String,
      expected: Map[String, String]): Op = {
    val (name, fn) = query(prefix)
    val want = expected.getOrElse(name,
      sys.error(s"no expected digest for $name"))
    Op(name, 0, s => { val df = fn(s, data); () => df },
      check = r => {
        val got = Digest.of(r)
        if (got == want) Nil else Seq(s"$name digest $got, expected $want")
      })
  }

  def apply(name: String, seed: Long, data: String, work: String,
      expected: Map[String, String]): Workload = name match {
    case "gbm_covtype" => Covtype.workload(seed, work)
    case "dataflow_mix" => Workload(("build", "action"), _ => (),
      Seq("q01", "q09", "q334", "q80").map(boardOp(_, data, expected)))
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other'; expected gbm_covtype or dataflow_mix")
  }
}

/** Covtype-shaped data (10 continuous + 4 + 40 one-hot features, 7-class
  * cover type, elevation-like column 0 as the regression target), drawn
  * from xxhash64 of (row id, seed) so the same seed gives the same rows
  * on any partitioning. The cover type is a depth-5-learnable function of
  * (c0, wilderness) with 5% of rows relabelled at random, so accuracy has
  * headroom below 1. Train and held-out rows are written to parquet at
  * set-up; the fits receive only the frames read back from it. */
object Covtype {
  val trainRows = 20000L
  val holdoutRows = 5000L
  val forestTrees = 5
  val depth = 5
  /** Three depth-8 trees compile to a scorer over the JVM's 64 KB method
    * limit, so the regressor's predict runs the codegen fallback. */
  val regressorTrees = 3
  val regressorDepth = 8

  private val classify = (0 to 53).map(k => s"c$k")
  private val regress = (1 to 53).map(k => s"c$k") :+ "cover_f"

  def frame(spark: SparkSession, seed: Long, from: Long, until: Long,
      parts: Int): DataFrame = {
    def u(k: Int): Column =
      (xxhash64(col("id"), lit(seed), lit(k)).cast("double") /
        lit(9.223372036854775807e18) + lit(1.0)) / lit(2.0)
    val cont = (0 to 9).map(k => (u(k) * 1000.0).as(s"c$k"))
    val w = pmod(xxhash64(col("id"), lit(seed), lit(30)), lit(4L))
    val s = pmod(xxhash64(col("id"), lit(seed), lit(31)), lit(40L))
    val clean = least(lit(6L),
      floor((u(0) * 1000.0 + w * 214.0) * 7.0 / 1642.0))
    val cover = when(u(50) < 0.05, floor(u(51) * 7.0)).otherwise(clean)
    val oneHot = (0 to 3).map(k => when(w === k, 1.0).otherwise(0.0)
      .as(s"c${10 + k}")) ++ (0 to 39).map(k =>
      when(s === k, 1.0).otherwise(0.0).as(s"c${14 + k}"))
    spark.range(from, until, 1, parts)
      .select((col("id") +: cont) ++ oneHot :+ cover.cast("int").as("cover"): _*)
      .withColumn("cover_f", col("cover").cast("double"))
  }

  def workload(seed: Long, work: String): Workload = {
    val train = s"$work/covtype/train"
    val holdout = s"$work/covtype/holdout"
    def read(s: SparkSession, p: String) = s.read.parquet(p)
    def atLeast(what: String, v: Double, min: Double) =
      if (v >= min) Nil else Seq(f"$what $v%.4f below floor $min")
    val classifier = Op("classify_7", forestTrees, s => {
      val m = new LGBMClassifier(
        LGBMParams(nEstimators = forestTrees, maxDepth = depth, seed = seed))
        .fit(read(s, train), classify, labelCol = "cover")
      () => m.predict(read(s, holdout), classify)
        .select(col("id"), col("cover").as("label"), col("prediction"))
    }, Seq(avg((col("label") === col("prediction")).cast("double"))
      .as("accuracy")),
      r => atLeast("classify_7 accuracy", r.double("accuracy"), 0.8),
      r => Seq("ml.holdout_accuracy" -> r.double("accuracy")))
    val regressor = Op("regress_c0", regressorTrees, s => {
      val m = new LGBMRegressor(
        LGBMParams(nEstimators = regressorTrees, maxDepth = regressorDepth,
          seed = seed))
        .fit(read(s, train), regress, labelCol = "c0")
      () => m.predict(read(s, holdout), regress)
        .select(col("id"), col("c0").as("label"), col("prediction"))
    }, Seq(sum(col("label")).as("sy"),
      sum(col("label") * col("label")).as("syy"),
      sum(pow(col("label") - col("prediction"), 2)).as("ssr")),
      r => atLeast("regress_c0 R2", r2(r), 0.8),
      r => Seq("ml.holdout_r2" -> r2(r)))
    Workload(("fit", "predict"),
      s => {
        val parts = s.sparkContext.defaultParallelism
        frame(s, seed, 0, trainRows, parts)
          .write.mode("overwrite").parquet(train)
        frame(s, seed, trainRows, trainRows + holdoutRows, parts)
          .write.mode("overwrite").parquet(holdout)
      },
      Seq(classifier, regressor),
      predictRows = 2 * holdoutRows)
  }

  def r2(r: Obs): Double = Stats.r2(r.long("d_n"),
    r.double("sy"), r.double("syy"), r.double("ssr"))
}
