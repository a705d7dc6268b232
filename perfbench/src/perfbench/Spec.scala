package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession

/** The frozen workload definitions (`perfbench/workloads.json`) and the
  * golden output digests (`perfbench/golden.json`). */
object Spec {

  final case class BatchWorkload(name: String, sf: Double, queries: Seq[String]) {
    def goldenKey: String = s"sf$sf"
  }

  final case class Loaded(batch: Map[String, BatchWorkload],
      golden: Map[String, Map[String, (Long, String)]])

  def dir(root: Path): Path = root.resolve("perfbench")

  /** The metrics BENCHMARK.json declares under `kind` (`end_to_end` or
    * `per_layer`), with their units, in its order. An untraced run reports
    * each end-to-end metric; a traced run reports each per-layer metric, 0
    * where the workload does not exercise the layer. */
  def declared(root: Path, kind: String): Seq[(String, String)] =
    Json.parse(Util.readString(root.resolve("BENCHMARK.json"))).asInstanceOf[Map[String, Any]](kind)
      .asInstanceOf[Seq[Map[String, Any]]].map(m => m("name").toString -> m("unit").toString)

  def load(root: Path): Loaded = {
    val w = Json.parse(Util.readString(dir(root).resolve("workloads.json"))).asInstanceOf[Map[String, Any]]
    val batch = w("batch").asInstanceOf[Map[String, Map[String, Any]]].map { case (name, m) =>
      name -> BatchWorkload(name, m("sf").asInstanceOf[Double],
        m("queries").asInstanceOf[Seq[Any]].map(_.toString))
    }
    val gPath = dir(root).resolve("golden.json")
    val golden =
      if (!Files.exists(gPath)) Map.empty[String, Map[String, (Long, String)]]
      else Json.parse(Util.readString(gPath)).asInstanceOf[Map[String, Map[String, Map[String, Any]]]]
        .map { case (sf, qs) =>
          sf -> qs.map { case (q, d) => q -> (d("rows").asInstanceOf[Double].toLong, d("digest").toString) }
        }
    Loaded(batch, golden)
  }

  /** Digests every batch workload's queries twice, in two different
    * orders, and writes `golden.json`. A query whose two digests differ has
    * no stable output and is reported instead of recorded. */
  def recordGolden(root: Path): Unit = {
    val spec = load(root)
    val spark: SparkSession = Main.session(root)
    val registry = graft.SparkEntry.queries
    val bySf = spec.batch.values.groupBy(_.goldenKey).map { case (k, ws) =>
      val sf = ws.head.sf
      val dir = Main.dataDir(root, sf)
      Gen.ensureTables(spark, dir, sf)
      val names = ws.flatMap(_.queries).toSeq.distinct.sorted
      def pass(order: Seq[String]) = order.map { n =>
        spark.catalog.clearCache()
        n -> Check.digest(registry(n)(spark, dir.toString))
      }.toMap
      val a = pass(names)
      val b = pass(names.reverse)
      names.filter(n => a(n) != b(n)).foreach(n => System.err.println(s"unstable output: $n ${a(n)} ${b(n)}"))
      k -> names.filter(n => a(n) == b(n)).map(n =>
        n -> Map("rows" -> a(n)._1, "digest" -> a(n)._2)).toMap
    }
    spark.stop()
    val text = bySf.toSeq.sortBy(_._1).map { case (k, qs) =>
      s"  ${Json.str(k)}: {\n" + qs.toSeq.sortBy(_._1).map { case (q, d) =>
        s"    ${Json.str(q)}: ${Json.render(scala.collection.immutable.ListMap("rows" -> d("rows"), "digest" -> d("digest")))}"
      }.mkString(",\n") + "\n  }"
    }.mkString("{\n", ",\n", "\n}\n")
    Files.write(dir(root).resolve("golden.json"), text.getBytes("UTF-8"))
  }
}
