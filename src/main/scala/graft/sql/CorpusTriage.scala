package graft.sql

import java.io.File
import java.nio.file.{Files, Paths}

/** Triage tool: run every reference stateless test through [[ChSql]]
  * and report which match their .reference goldens. Used to grow the
  * pinned set in ChSqlCorpusSpec; not part of the driver contract.
  *
  * Usage: runMain graft.sql.CorpusTriage [substringFilter]
  */
object CorpusTriage {
  private val corpus = "/root/reference/dbms/tests/queries/0_stateless"

  // Documented divergences (recorded here; re-triaged round 10):
  //  - 00395_nullable: the has()/arrayElement() blocks over
  //    Array(Nullable(String)) expect the reference's off-by-one
  //    null-map read (FunctionsArray.h ArrayIndexStringImpl /
  //    ArrayElementStringImpl: `k = current_offset + j - 1` indexes
  //    the PREVIOUS global element's null flag, leaking null state
  //    across rows). We implement the declared semantics instead of
  //    the bug; 18 of its 330 output lines differ positionally, all
  //    in those blocks. Numeric arrays use the correct
  //    `current_offset + j` in the reference and match. PINNED round
  //    10 as a divergence-masked test (ChSqlCorpusSpec.maskedCases):
  //    every non-bug line compares exactly.
  //  - 00334_column_aggregate_function_limit: GROUP BY + LIMIT 1
  //    without ORDER BY — the answer depends on hash-map iteration
  //    order of the reference; any group is a correct answer.
  //    Re-confirmed round 10 (sketch-state uniqState): our LIMIT 1
  //    lands on a 48-distinct group, the reference golden on a
  //    94-distinct one; both are valid answers of the query. PINNED
  //    round 10 as a semantic membership test
  //    (ChSqlCorpusSpec "00334 ... membership pin"): the output must
  //    be the uniq count of SOME group, and the reference's 94 must
  //    itself be a member of that set — uniq parity on the group the
  //    reference picked, without pretending the order is defined.
  //  - 00273_quantiles: PINNED round 8 — needed three aligned
  //    pieces: the bounded system.numbers range runs a SINGLE slice
  //    (the reference generator is sequential), the object-hash agg
  //    fallback threshold is raised so per-group input order is
  //    preserved, and the deterministic reservoir's single-partial
  //    final merge adopts the state verbatim so the insertImpl
  //    straggler survives like the reference's merge-free
  //    single-threaded path.

  //  - 00189_time_zones: 129 of 130 lines match; the one diff is
  //    toTime(…, 'Pacific/Pitcairn') — a half-hour-offset zone where
  //    the reference's DateLUT day-anchoring renders 01:30 for a
  //    wall-time of 01:00. Real java.time zone rules disagree with
  //    the LUT artifact; we keep the rules. PINNED round 10 as a
  //    divergence-masked test (line 25 excluded, everything else
  //    exact — ChSqlCorpusSpec.maskedCases).

  //  - 00062_replicated_merge_tree_alter_zookeeper: 231 of 232 lines
  //    match; the one diff renders UInt32 100500 as DateTime — the
  //    reference goldens were produced on a Europe/Moscow server
  //    (epoch 100500 → "06:55"), while this engine runs UTC ("03:55").
  //    Every parse+render round-trip cancels the zone, so only this
  //    absolute-epoch render differs. PINNED round 10 as a
  //    divergence-masked test (ChSqlCorpusSpec.maskedCases line 212).
  //
  // Round 10 closed the rest of the previously-unpinned set:
  //  - 00121/00296 (zookeeper): pinned exactly — replicated inserts
  //    now register reference-named parts (min/max date + per-
  //    partition block numbers from 200, RESERVED_BLOCK_NUMBERS),
  //    backing system.parts, system.zookeeper and ATTACH PART.
  //  - 00193_parallel_replicas: pinned exactly — SET
  //    parallel_replicas_count/offset slice every read of a sampled
  //    table through the SAMPLE hash-range machinery.
  //  00334 is pinned semantically (membership, see above) — every
  //  one of the 436 stateless files now executes under a pin.

  // features we knowingly don't support in the translator yet, plus
  // tests that are nondeterministic by construction (now()/rand) or
  // pin algorithm-specific sketch values (uniq* HLL registers)
  private val skipMarkers = Seq(
    "zookeeper",
    "FORMAT TabSeparatedRaw", "FORMAT RowBinary",
    "sleep", "rand",
    "dict", "region", "OLAP")

  def main(args: Array[String]): Unit = {
    val filter = args.headOption.getOrElse("")
    val spark = graft.GraftSession(8,
      localDir = Some(graft.GraftSession.sweptLocalDir()))

    // filter: substring match, or `@/path/to/file` with one test name
    // per line (used to sweep exactly the unpinned set)
    val nameMatch: String => Boolean =
      if (filter.startsWith("@")) {
        val names = Files.readAllLines(Paths.get(filter.drop(1)))
          .toArray(Array.empty[String]).map(_.trim).filter(_.nonEmpty).toSet
        n => names.contains(n.stripSuffix(".sql"))
      } else _.contains(filter)
    val files = new File(corpus).listFiles()
      .filter(f => f.getName.endsWith(".sql") && nameMatch(f.getName))
      .sortBy(_.getName)
    var pass, fail, skip = 0
    files.foreach { f =>
      val name = f.getName.stripSuffix(".sql")
      val refFile = new File(corpus, s"$name.reference")
      val sql = Files.readString(f.toPath)
      // an EXACT-name filter bypasses the skip markers — markers are
      // sweep heuristics, not verdicts (00282's ORDER BY rand() is a
      // shuffle-order insert with deterministic output)
      val exactRequest = filter.nonEmpty && name == filter
      if (!refFile.exists() ||
          (!exactRequest && skipMarkers.exists(sql.contains))) { skip += 1 }
      else {
        val expected = Files.readString(refFile.toPath).stripLineEnd
        ChDdl.resetSettings() // SET never leaks across files
        try {
          val fut = scala.concurrent.Future {
            ChSql.statements(sql)
              .flatMap(st => ChDdl.executeRendered(spark, st))
              .mkString("\n")
          }(scala.concurrent.ExecutionContext.global)
          val got = scala.concurrent.Await.result(fut,
            scala.concurrent.duration.Duration(240, "s"))
          if (got == expected) { println(s"PASS $name"); pass += 1 }
          else if (got.linesIterator.toSeq.sorted == expected.linesIterator.toSeq.sorted) {
            println(s"PASS-UNORDERED $name"); pass += 1
          } else {
            println(s"DIFF $name")
            if (args.length > 1) { // verbose: first differing lines
              val g = got.linesIterator.toSeq; val e = expected.linesIterator.toSeq
              val i = g.zipAll(e, "<EOF>", "<EOF>").indexWhere(p => p._1 != p._2)
              println(s"  at line ${i + 1} (got ${g.length} lines, want ${e.length}):")
              (i until math.min(i + 3, math.max(g.length, e.length))).foreach { j =>
                println(s"  got:  ${g.lift(j).getOrElse("<EOF>").take(160)}")
                println(s"  want: ${e.lift(j).getOrElse("<EOF>").take(160)}")
              }
            }
            fail += 1
          }
        } catch {
          case e: Throwable =>
            println(s"ERR  $name: ${e.getClass.getSimpleName} ${Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString.take(100)}")
            if (args.length > 1) e.printStackTrace(System.out)
            fail += 1
        }
      }
    }
    println(s"\npass=$pass fail=$fail skip=$skip")
    spark.stop()
  }
}
