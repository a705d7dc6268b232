import java.io._
import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import org.apache.spark.sql.streaming.Trigger

import graft.streaming.{InMemoryKvStore, Jobs}

/** Restart check: phase 1 drains files 0-2 through kpi, activity, regions,
  * kpi-relay and alerts and saves the KV store; phase 2 adds file 3, restores the
  * KV store, resumes every query from its checkpoint and dumps the KV store
  * plus the relayed rows. Usage: RestartCheck <1|2> <workDir> <outFile>. */
object RestartCheck {
  val types = Seq("purchase", "signup", "click", "view", "error")

  def writeFile(spark: org.apache.spark.sql.SparkSession, dir: String, i: Int): Unit = {
    import spark.implicits._
    val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val rows = (0 until 200).map { j =>
      val n = i * 200 + j
      (n.toLong, new Timestamp(base + n * 7000L), (n % 37).toLong, types(n % 5),
        (n % 13) + 0.25, "{}")
    }
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.parquet(s"$dir/part-$i")
  }

  def main(args: Array[String]): Unit = {
    val phase = args(0).toInt
    val work = args(1)
    val in = s"$work/in"; val ckpt = s"$work/ckpt"; val derived = s"$work/derived"
    val kvFile = s"$work/kv.bin"
    val spark = graft.Session.builder("restart-check", 2).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(in)); Files.createDirectories(Paths.get(derived))
    val stage = s"$work/stage"
    if (phase == 1) (0 to 2).foreach(writeFile(spark, stage, _)) else writeFile(spark, stage, 3)
    // move each file into the flat drop-dir
    Files.list(Paths.get(stage)).forEach { d =>
      Files.list(d).filter(_.getFileName.toString.endsWith(".parquet")).forEach { f =>
        Files.move(f, Paths.get(in, d.getFileName.toString + ".parquet"))
      }
    }
    val kv = new InMemoryKvStore
    if (phase == 2) {
      val ois = new ObjectInputStream(new FileInputStream(kvFile))
      val (h, s, l, p) = ois.readObject().asInstanceOf[(Map[String, Map[String, String]],
        Map[String, String], Map[String, List[String]], Map[String, List[String]])]
      ois.close()
      kv.hashes ++= h; kv.strings ++= s; kv.lists ++= l; kv.published ++= p
    }
    val source = () => Jobs.fileEventStream(spark, in)
    val trigger = Trigger.AvailableNow()
    val qs = Jobs.transactionsJob(source, kv, ckpt, trigger) :+
      Jobs.kpiRelayJob(source, derived, ckpt, trigger)
    try qs.foreach(_.awaitTermination(300000))
    catch { case e: Throwable => println(s"FAILED: $e"); sys.exit(1) }
    val alerts = Jobs.alertsJob(() => Jobs.fileKpiStream(spark, derived), kv, ckpt, trigger)
    try alerts.awaitTermination(300000)
    catch { case e: Throwable => println(s"FAILED: $e"); sys.exit(1) }
    (qs :+ alerts).foreach(q => println(s"phase $phase ${q.name} numInputRows=" +
      q.recentProgress.map(_.numInputRows).sum))
    if (phase == 1) {
      val oos = new ObjectOutputStream(new FileOutputStream(kvFile))
      oos.writeObject((kv.hashes.toMap, kv.strings.toMap, kv.lists.toMap, kv.published.toMap))
      oos.close()
    } else {
      val out = new PrintWriter(args(2))
      kv.hashes.toSeq.sortBy(_._1).foreach { case (k, v) =>
        out.println(s"H $k " + v.toSeq.sorted.mkString(",")) }
      kv.strings.toSeq.sortBy(_._1).foreach { case (k, v) => out.println(s"S $k $v") }
      kv.lists.toSeq.sortBy(_._1).foreach { case (k, v) => out.println(s"L $k " + v.mkString("|")) }
      kv.published.toSeq.sortBy(_._1).foreach { case (k, v) =>
        out.println(s"P $k ${v.length} " + v.mkString("|")) }
      spark.read.parquet(derived).collect().map(_.toString).sorted
        .foreach(r => out.println(s"R $r"))
      out.close()
    }
    spark.stop()
  }
}
