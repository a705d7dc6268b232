package perfbench

import java.nio.file.{Path, Paths}

import org.apache.spark.sql.SparkSession

object Main {

  final case class Args(workload: String = "", seed: Long = 1L, seconds: Int = 10,
      trace: Boolean = false, root: Path = Paths.get("."), recordGolden: Boolean = false)

  def parse(args: Array[String]): Args = {
    def go(a: Args, rest: List[String]): Args = rest match {
      case "--workload" :: v :: t => go(a.copy(workload = v), t)
      case "--seed" :: v :: t => go(a.copy(seed = v.toLong), t)
      case "--seconds" :: v :: t => go(a.copy(seconds = v.toInt), t)
      case "--trace" :: v :: t => go(a.copy(trace = v == "1"), t)
      case "--root" :: v :: t => go(a.copy(root = Paths.get(v)), t)
      case "--record-golden" :: t => go(a.copy(recordGolden = true), t)
      case Nil => a
      case other => throw new IllegalArgumentException(s"unknown arguments: ${other.mkString(" ")}")
    }
    go(Args(), args.toList)
  }

  val cores: Int = Runtime.getRuntime.availableProcessors

  def work(root: Path): Path = root.resolve(".perfbench")

  def dataDir(root: Path, sf: Double): Path = work(root).resolve(s"data/sf$sf-v${Gen.Version}")

  def session(root: Path): SparkSession = {
    val tmp = work(root).resolve("tmp")
    val s = graft.Session.builder("perfbench", cores)
      .config("spark.local.dir", tmp.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", tmp.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    if (a.recordGolden) Spec.recordGolden(a.root) else Run(a)
  }
}
