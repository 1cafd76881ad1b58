package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Reported-counts reconciliation (r12 verdict #5): SURVEY's closing
  * numbers drifted from the artifacts twice ("15-probe"/"16-probe"
  * claims vs 14 in `scale_probe.json`; "249 specs" vs a 250-test
  * suite). The claims are now ASSERTED against ground truth: the probe
  * count against [[ScaleProbe.probeNames]] (which `ScaleProbe.main`
  * requires its actual probe list to equal) plus the committed
  * `scale_probe.json`, and the spec count against a source scan of the
  * suite itself. SURVEY must carry the machine-readable phrases
  * `scale gate: N probes` and `suite: N specs`. */
class ReportedCountsSpec extends AnyFunSuite {

  private def repoRoot: Path = {
    def up(p: Path): Path =
      if (p == null) Paths.get(sys.props("user.dir"))
      else if (Files.exists(p.resolve("build.sbt"))) p
      else up(p.getParent)
    up(Paths.get(sys.props("user.dir")).toAbsolutePath)
  }

  private def survey: String =
    new String(Files.readAllBytes(repoRoot.resolve("SURVEY.md")), "UTF-8")

  test("SURVEY's claimed scale-probe count equals ScaleProbe.probeNames " +
      "and the committed scale_probe.json artifact") {
    val claims = raw"scale gate: (\d+) probes".r
      .findAllMatchIn(survey).map(_.group(1).toInt).toSeq
    assert(claims.nonEmpty,
      "SURVEY must state the probe count as `scale gate: N probes`")
    claims.foreach { n =>
      assert(n == ScaleProbe.probeNames.size,
        s"SURVEY claims $n probes; ScaleProbe has " +
          s"${ScaleProbe.probeNames.size}")
    }
    val artifact = repoRoot.resolve("scale_probe.json")
    if (Files.exists(artifact)) {
      val txt = new String(Files.readAllBytes(artifact), "UTF-8")
      val names = raw""""probe":"([^"]+)"""".r
        .findAllMatchIn(txt).map(_.group(1)).toSet
      assert(names == ScaleProbe.probeNames.toSet,
        s"scale_probe.json probes $names != declared " +
          s"${ScaleProbe.probeNames.toSet} — re-run graft.ScaleProbe")
    }
  }

  test("the committed scale-gate artifact is no older than the newest " +
      "commit touching probe-covered surface (r16 verdict #3: the " +
      "certify commit predated two commits that changed probe-gated " +
      "code — artifact-vs-HEAD staleness must be a red spec, not a " +
      "judge finding)") {
    def git(args: String*): Option[String] =
      try {
        val p = new ProcessBuilder(("git" +: args): _*)
          .directory(repoRoot.toFile).redirectErrorStream(true).start()
        val out = new String(p.getInputStream.readAllBytes(), "UTF-8").trim
        if (p.waitFor() == 0) Some(out) else None
      } catch { case _: Exception => None }
    // outside a git checkout (or without a git binary) there is no
    // history to certify against — nothing to assert
    assume(git("rev-parse", "--is-inside-work-tree").contains("true"),
      "not a git checkout — freshness check skipped")
    assume(Files.exists(repoRoot.resolve("scale_probe.json")),
      "no committed scale-gate artifact")
    // uncommitted edits land in the next commit, after every existing
    // one: a covered source edited in the working tree must have its
    // artifact refresh pending beside it, and a pending refresh is newer
    // than any committed surface
    def pending(paths: Seq[String]): Seq[String] =
      git(("status" +: "--porcelain" +: "--" +: paths): _*)
        .getOrElse("").linesIterator.filter(_.nonEmpty).toSeq
    val artifactPending = pending(Seq("scale_probe.json")).nonEmpty
    val surfacePending = pending(ScaleProbe.coveredSources)
    assert(artifactPending || surfacePending.isEmpty,
      s"probe-covered surface has uncommitted changes " +
        s"(${surfacePending.mkString("; ")}) but scale_probe.json does " +
        "not — re-run graft.ScaleProbe and refresh the artifact")
    if (!artifactPending) {
      val artifact = git("log", "-1", "--format=%H", "--", "scale_probe.json")
        .filter(_.nonEmpty)
      assert(artifact.nonEmpty, "scale_probe.json is not tracked by git")
      val surface = git(("log" +: "-1" +: "--format=%H" +: "--" +:
        ScaleProbe.coveredSources): _*).filter(_.nonEmpty)
      assert(surface.nonEmpty, "no commit touches the covered surface?")
      val fresh = git("merge-base", "--is-ancestor",
        surface.get, artifact.get).isDefined
      assert(fresh,
        s"scale_probe.json was last committed at ${artifact.get.take(12)}, " +
          s"but probe-covered surface changed later at " +
          s"${surface.get.take(12)} — re-run graft.ScaleProbe (subset via " +
          "SPARK_GRAFT_SCALE_ONLY + merge, or the full gate) and commit " +
          "the refreshed artifact")
    }
  }

  test("every closing-bench number SURVEY quotes exists, verbatim, in " +
      "its named TRACKED artifact (r14 verdict #3: §17's quoted numbers " +
      "pointed at bench_out.json, which git does not track and the " +
      "driver overwrites — the evidence vanished on the next run)") {
    // convention: SURVEY quotes a closing-session number as
    // `name=V.VVVs@bench_closing_rNN.json` — the value must equal the
    // artifact's queries_adjudicated entry at the printed precision
    val quotes = raw"([a-z0-9_]+)=([0-9]+\.[0-9]{3})s@([A-Za-z0-9_.]+\.json)"
      .r.findAllMatchIn(survey).toSeq
    assert(quotes.nonEmpty,
      "SURVEY must quote closing-bench numbers as name=V.VVVs@artifact")
    quotes.groupBy(_.group(3)).foreach { case (file, ms) =>
      assert(file.startsWith("bench_closing_") || file.startsWith("BENCH_r"),
        s"bench quotes must cite a round-stamped tracked artifact, not $file")
      val p = repoRoot.resolve(file)
      assert(Files.exists(p), s"SURVEY quotes $file — not in the repo")
      val txt = new String(Files.readAllBytes(p), "UTF-8")
      val adjIdx = txt.indexOf("\"queries_adjudicated\"")
      val hay = if (adjIdx >= 0) txt.substring(adjIdx) else txt
      ms.foreach { m =>
        val needle = "\"" + m.group(1) + "\":" + m.group(2)
        assert(hay.contains(needle),
          s"SURVEY quotes ${m.matched} but $file's adjudicated map has " +
            s"no $needle")
      }
    }
  }

  test("BASELINE.md's sub-second noise-floor convention names every " +
      "baseline query whose denominator is under 1.0 s (r17 verdict " +
      "task #7: sub-second driver-artifact ratios were re-litigated " +
      "per round; the convention is now disclosed and machine-checked)") {
    val baseline = new String(
      Files.readAllBytes(repoRoot.resolve("BASELINE.md")), "UTF-8")
    val section = baseline.indexOf("## Sub-second noise-floor convention")
    assert(section >= 0,
      "BASELINE.md must carry the '## Sub-second noise-floor convention' " +
        "section")
    val conv = baseline.substring(section)
    // the round-1 baseline table rows: `| name | sec | notes |`
    val rows = raw"\|\s*([a-z0-9_]+)\s*\|\s*([0-9]+\.[0-9]+)\s*\|"
      .r.findAllMatchIn(baseline)
      .map(m => m.group(1) -> m.group(2).toDouble).toSeq
    assert(rows.nonEmpty, "no baseline table rows parsed from BASELINE.md")
    val subSecond = rows.filter(_._2 < 1.0).map(_._1)
    assert(subSecond.nonEmpty, "baseline table lost its sub-second rows?")
    subSecond.foreach { q =>
      assert(conv.contains(q),
        s"baseline query '$q' is sub-second but missing from the " +
          "noise-floor convention section")
    }
  }

  test("SURVEY's claimed spec count equals the suite's registered tests") {
    // every spec in this repo registers tests with a line-initial
    // `test(` — count them straight from the sources, the same number
    // sbt's summary reports as run (nothing is ignored or pending)
    val testDir = repoRoot.resolve("src/test/scala/graft")
    val counted = Files.list(testDir).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map { f =>
        new String(Files.readAllBytes(f), "UTF-8").linesIterator
          .count(_.matches("""\s*test\(.*"""))
      }.sum
    val claims = raw"suite: (\d+) specs".r
      .findAllMatchIn(survey).map(_.group(1).toInt).toSeq
    assert(claims.nonEmpty,
      "SURVEY must state the spec count as `suite: N specs`")
    claims.foreach { n =>
      assert(n == counted,
        s"SURVEY claims $n specs; the suite registers $counted")
    }
  }
}
