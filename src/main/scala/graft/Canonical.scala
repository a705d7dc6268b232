package graft

/** THE canonicality rule, in one place for every measurement harness
  * (Bench; perfbench reuses its load and git-SHA readers): a run's
  * numbers are citable round-over-round only when the host was idle
  * when its clock started — 1-minute AND 5-minute loadavg below the gate
  * (`SPARK_GRAFT_CANONICAL_LOAD`, default 2.0). Unmeasurable load (no
  * /proc/loadavg) stays TRUSTING: inability to measure is not evidence
  * of contention, and stamping false would permanently disable the
  * regression gates on such hosts. The rule is load-bearing — it decides
  * which artifacts PROGRESS may cite and which runs bench_compare may
  * call regressions — so the harnesses must share one
  * implementation, not copies that can drift.
  */
object Canonical {

  def readLoadavg(): Array[Double] =
    try new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/loadavg"))).split(" ").take(3)
      .map(_.toDouble)
    catch { case _: Throwable => Array.empty[Double] }

  def loadMax: Double =
    sys.env.getOrElse("SPARK_GRAFT_CANONICAL_LOAD", "2.0").toDouble

  /** The gate, judged from the run's OWN starting conditions. */
  def isCanonical(loadavgStart: Array[Double]): Boolean =
    loadavgStart.length < 2 ||
      (loadavgStart(0) < loadMax && loadavgStart(1) < loadMax)

  /** The git commit the measured artifact claims to describe, with a
    * `-dirty` suffix when the source tree has uncommitted changes. The
    * round-14 drift lesson: a "canonical" bench was measured two commits
    * before the shipped code and nothing in the artifact could say so —
    * stamping the SHA (and dirtiness) at measurement time makes that
    * class of silent drift impossible. Subprocess git, falling back to
    * "unknown" rather than failing the run (a bench on a tarball export
    * still produces numbers; it just can't make provenance claims).
    */
  /** The repo that COMPILED the running classes, found by walking up from
    * the classloader's code source (`target/scala-2.13/classes`) to the
    * first ancestor holding both `build.sbt` and `.git` (a plain file in
    * a worktree — test existence, not directory-ness). Anchoring here
    * instead of the JVM's inherited cwd means a bench launched from
    * OUTSIDE the repo still stamps the SHA of the code it actually ran —
    * and a JVM whose classes came from no repo at all stamps "unknown"
    * rather than whatever repository the shell happened to sit in. */
  private def repoRoot(): Option[java.io.File] =
    try {
      val src = getClass.getProtectionDomain.getCodeSource
      var d = Option(src).map(s => new java.io.File(s.getLocation.toURI))
        .filter(_.exists).map(f => if (f.isFile) f.getParentFile else f)
        .orNull
      while (d != null &&
          !(new java.io.File(d, "build.sbt").exists &&
            new java.io.File(d, ".git").exists))
        d = d.getParentFile
      Option(d)
    } catch { case _: Throwable => None }

  def gitSha(): String =
    repoRoot() match {
      case None => "unknown"
      case Some(root) => try {
        def run(cmd: String*): String = {
          val p = new ProcessBuilder(cmd: _*).redirectErrorStream(true)
            .directory(root).start()
          val out = new String(p.getInputStream.readAllBytes(),
            java.nio.charset.StandardCharsets.UTF_8).trim
          if (p.waitFor() == 0) out else ""
        }
        val sha = run("git", "rev-parse", "--short=12", "HEAD")
        if (sha.isEmpty) "unknown"
        // Dirtiness judged on tracked SOURCE only: artifacts
        // (BENCH_*.json) are expected to be in flux while measuring;
        // src/ changes are the drift the stamp exists to expose.
        else if (run("git", "status", "--porcelain", "--",
            "src", "build.sbt").nonEmpty)
          sha + "-dirty"
        else sha
      } catch { case _: Throwable => "unknown" }
    }
}
