package graft

/** Pins the JVM log lane that matches Spark's `log` expression:
  * Spark's `log` vs StrictMath.log vs Math.log over every argument the
  * 256-register linear-counting branch of HyperBall's estimate can
  * produce (256.0/zeros, zeros ∈ 1..255). Any JVM-side copy of that
  * estimate must use the lane this spec pins to stay bit-identical to
  * the distributed register rounds. */
class LogLaneSpec extends SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.functions._

  test("spark log == StrictMath.log on the linear-counting argument set") {
    val args = (1 to 255).map(z => 256.0 / z)
    val sparkLog = args.toDF("x").select(log($"x")).collect().map(_.getDouble(0))
    val strict = args.map(StrictMath.log)
    val mathL = args.map(math.log)
    assert(sparkLog.toSeq == strict.toSeq,
      "Spark log diverges from StrictMath.log — a JVM-side estimate must change lanes")
    // informational: whether Math.log happens to agree on this JVM
    info(s"Math.log agrees with Spark on all 255 args: ${sparkLog.toSeq == mathL.toSeq}")
  }
}
