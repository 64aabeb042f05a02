package graft

import java.io.File
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.tools.EmptySweep

/** Pins the committed degenerate-sweep ledger (SWEEPS.json — round-15
  * verdict #6): one machine-readable artifact for shape × gate × outcome
  * instead of twelve PLANS.md prose ledgers. The battery
  * (`EmptySweep <sf> battery`) rewrites it; this spec asserts "no ledger
  * regressed" in one place:
  *
  *  - every tool-runnable shape ran, over the FULL board;
  *  - zero crashes (FAIL) anywhere — the sweep contract: every gate
  *    RETURNS or REFUSES LOUDLY on degenerate input, never NPE/
  *    MatchError/collapse;
  *  - every refusal is named (a class + a nonempty message — the
  *    refuse-loudly half of the contract);
  *  - the per-shape pass/loud counts equal the recorded ledger (the
  *    round-15 full-battery re-validation plus the wide shape). A gate
  *    whose refusal behavior changes must change this table in the same
  *    commit — deliberately, not silently.
  *
  * Gate-level named-fragment pins (WHICH gate refuses with WHAT message)
  * stay in EmptyInputSpec; this spec owns the board-level shape of the
  * ledger.
  */
class SweepLedgerSpec extends AnyFunSuite {

  private def repoFile(name: String): File = {
    val local = new File(name)
    if (local.isFile) local else new File("/root/repo", name)
  }

  // (shape, pass, loud) — the recorded ledger. FAIL is always 0 and
  // asserted globally.
  private val recorded: Seq[(String, Int, Int)] = Seq(
    ("empty", 208, 10),
    ("3row", 211, 7),
    ("dup100", 211, 7),
    ("dup300", 211, 7),
    // nulls 196→197 at the r18 regeneration: q76_pagerank's nulls-shape
    // verdict is PASS (1-row graph after null-edge dropping) on BOTH the
    // r18 tree and the unchanged r17-close tree (re-run ad08dff) — the
    // r17-committed ledger's LOUD ("dangling node") row predated r17's
    // final code state, not a behavior change this round
    ("nulls", 197, 21),
    ("nan", 182, 36),
    ("unicode", 211, 7),
    ("extreme", 183, 35),
    ("hotkey", 215, 3),
    ("timewarp", 215, 3),
    ("wide", 216, 2),
    // round-16 verdict #6: the full board at the 4096-dim embedding width
    // the wide-dims kernel record proved linear (PLANS.md, Round-16,
    // "Wide-dims probe at 4096") — closes the loop between that record
    // and the board ledger
    ("wide4096", 216, 2))

  private lazy val root = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    mapper.readTree(new String(
      Files.readAllBytes(repoFile("SWEEPS.json").toPath), "UTF-8"))
  }

  private def fieldsOf(node: com.fasterxml.jackson.databind.JsonNode)
      : Seq[(String, com.fasterxml.jackson.databind.JsonNode)] = {
    val it = node.fieldNames()
    Iterator.continually(if (it.hasNext) it.next() else null)
      .takeWhile(_ != null).map(k => k -> node.get(k)).toSeq
  }

  test("SWEEPS.json covers every tool-runnable shape over the full board") {
    val shapes = root.get("shapes")
    assert(shapes != null, "no shapes block")
    val shapeNames = fieldsOf(shapes).map(_._1)
    assert(shapeNames == EmptySweep.shapeWriters.map(_._1),
      s"shape set drifted: $shapeNames")
    assert(root.get("gates_n").asInt == SparkEntry.queries.size,
      "battery ran a filtered board")
    shapeNames.foreach { s =>
      assert(shapes.get(s).size == SparkEntry.queries.size,
        s"shape $s has ${shapes.get(s).size} gates")
    }
  }

  test("ledger is not stale: as_of_round within one round of the newest CORRECTNESS artifact") {
    // round-16 verdict #5 (CitationLintSpec-style staleness guard): the
    // committed ledger recorded its source sf but not WHEN it ran, so a
    // round could close green with a SWEEPS.json its code changes never
    // touched. The battery stamps the newest CORRECTNESS_r{N} present at
    // generation time; one-round lag is tolerated (the driver writes
    // r{N} after the round's commits land), two is the recurring debt.
    val stamp = root.get("as_of_round")
    assert(stamp != null,
      "SWEEPS.json has no as_of_round stamp — regenerate with " +
        "`EmptySweep <sfDir> battery` (round-17+)")
    val newest = EmptySweep.newestCorrectnessRound()
    assert(newest > 0, "no CORRECTNESS_r*.json visible from the test cwd")
    assert(stamp.asInt >= newest - 1,
      s"SWEEPS.json was generated as of round ${stamp.asInt} but " +
        s"CORRECTNESS_r$newest exists — rerun the battery " +
        "(`EmptySweep <sfDir> battery`) so the ledger reflects this " +
        "round's tree")
  }

  test("zero crashes: no FAIL outcome anywhere in the ledger") {
    for {
      (shape, m) <- fieldsOf(root.get("shapes"))
      (gate, v) <- fieldsOf(m)
    } assert(!v.asText.startsWith("FAIL"), s"$shape/$gate: ${v.asText}")
  }

  test("every refusal is named: LOUD with a class and nonempty message") {
    for {
      (shape, m) <- fieldsOf(root.get("shapes"))
      (gate, vn) <- fieldsOf(m)
      v = vn.asText if v != "PASS"
    } {
      assert(v.startsWith("LOUD: "), s"$shape/$gate: $v")
      // "LOUD: <ExceptionClass>: <message>"
      val body = v.stripPrefix("LOUD: ")
      val colon = body.indexOf(':')
      assert(colon > 0 && body.drop(colon + 1).trim.nonEmpty,
        s"unnamed refusal at $shape/$gate: $v")
    }
  }

  test("per-shape pass/loud counts match the recorded ledger (no regression)") {
    val shapes = root.get("shapes")
    val summary = root.get("summary")
    recorded.foreach { case (shape, pass, loud) =>
      val m = shapes.get(shape)
      assert(m != null, s"shape $shape missing")
      val outcomes = fieldsOf(m).map(_._2.asText)
      val p = outcomes.count(_ == "PASS")
      val l = outcomes.size - p
      assert((p, l) == (pass, loud),
        s"$shape ledger moved: got $p pass/$l loud, recorded $pass/$loud " +
          "— if deliberate (a new guard or domain contract), update the " +
          "recorded table in this spec in the same commit")
      // the summary block must agree with the per-gate map
      val s = summary.get(shape)
      assert(s.get("pass").asInt == p && s.get("loud").asInt == l &&
        s.get("fail").asInt == 0, s"summary for $shape inconsistent")
    }
  }
}

