package graft

import java.sql.Date

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.etl.{Load, Maintenance}
import graft.io.MusicCsv
import graft.model.Music.MusicDb
import graft.query.Views

/** Property-based invariants (SURVEY.md §5): upsert idempotence,
  * keep-best-row determinism, rank-delta antisymmetry, retention
  * bound. Small generated inputs, few iterations — each case builds
  * real DataFrames. */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  /** Deterministic ScalaCheck sampling (no scalatestplus bridge in
    * the offline dependency set): n cases from fixed seeds. */
  private def cases[A](g: Gen[A], n: Int = 5): Seq[A] =
    (0 until n).flatMap(i =>
      g.apply(Gen.Parameters.default.withSize(12), Seed(i.toLong)))

  private def forAll[A](g: Gen[A])(body: A => Unit): Unit =
    cases(g).foreach(body)

  private def forAll2[A, B](ga: Gen[A], gb: Gen[B])(body: (A, B) => Unit): Unit =
    cases(Gen.zip(ga, gb)).foreach { case (a, b) => body(a, b) }

  private val keyGen = Gen.chooseNum(1, 8)
  private val rowsGen = Gen.listOf(Gen.zip(keyGen, Gen.alphaStr.map(_.take(4))))

  test("upsert is idempotent: re-applying a batch inserts nothing") {
    forAll2(rowsGen, rowsGen) { (existingRows, batchRows) =>
      val existing = existingRows.toDF("k", "v")
        .transform(MusicCsv.keepBestRow(_, Seq("k"), Seq(col("v").asc)))
      val batch = batchRows.toDF("k", "v")
      val (ins1, state1) =
        Load.upsert(existing, batch, Seq(Seq("k")), Seq(col("v").asc))
      val (ins2, state2) =
        Load.upsert(state1, batch, Seq(Seq("k")), Seq(col("v").asc))
      assert(ins2.count() === 0)
      assert(state2.count() === state1.count())
      // state keys = union of key sets
      val want = (existingRows.map(_._1) ++ batchRows.map(_._1)).toSet
      assert(state1.select("k").as[Int].collect().toSet === want)
      assert(ins1.count() === batch.select("k").dropDuplicates()
        .join(existing, Seq("k"), "left_anti").count())
    }
  }

  test("keepBestRow: one row per key, deterministic under input shuffling") {
    forAll(rowsGen) { rows =>
      if (rows.nonEmpty) {
        val df = rows.toDF("k", "v")
        val shuffled = new scala.util.Random(7).shuffle(rows).toDF("k", "v")
        val a = MusicCsv.keepBestRow(df, Seq("k"), Seq(col("v").asc, col("k").asc))
          .orderBy("k").collect().toSeq
        val b = MusicCsv.keepBestRow(shuffled, Seq("k"), Seq(col("v").asc, col("k").asc))
          .orderBy("k").collect().toSeq
        assert(a === b)
        assert(a.map(_.getInt(0)).distinct.size === a.size)
      }
    }
  }

  private def mkDb(rankings: Seq[(String, String, Int, String)]): MusicDb = {
    val ranking = rankings.map { case (i, d, r, s) => (i, Date.valueOf(d), r, s) }
      .toDF("isrc", "ranking_date", "rank", "ranking_source")
    val isrcs = rankings.map(_._1).distinct
    val song = isrcs.map(i => (i, s"Song $i", 1000, false, s"su$i", Option.empty[String]))
      .toDF("isrc", "song_name", "song_duration_ms", "is_explicit", "spotify_url", "apple_music_url")
    val artist = Seq(("A1", "Art")).toDF("artist_id", "artist_name")
    val map = isrcs.map(i => ("A1", i)).toDF("artist_id", "isrc")
    MusicDb(artist, song, map, ranking)
  }

  private val rankingsGen: Gen[Seq[(String, String, Int, String)]] = for {
    days <- Gen.chooseNum(1, 3)
    perDay <- Gen.chooseNum(1, 5)
  } yield for {
    d <- 0 until days
    r <- 1 to perDay
  } yield (s"I${(r * 7 + d) % perDay + 1}", s"2026-01-0${d + 1}", r, "Spotify")

  test("rank delta between dates is antisymmetric") {
    forAll(rankingsGen) { rows =>
      val db = mkDb(rows.distinct)
      val d1 = Date.valueOf("2026-01-01")
      val d2 = Date.valueOf("2026-01-02")
      val fwd = Views.rankDeltaBetweenDates(db, d1, d2)
        .select("isrc", "delta").as[(String, Int)].collect().toMap
      val bwd = Views.rankDeltaBetweenDates(db, d2, d1)
        .select("isrc", "delta").as[(String, Int)].collect().toMap
      assert(fwd.keySet === bwd.keySet)
      fwd.foreach { case (k, v) => assert(bwd(k) === -v) }
    }
  }

  test("retention: surviving rankings span at most one year before the load date") {
    val gen = for {
      n <- Gen.chooseNum(1, 10)
      offs <- Gen.listOfN(n, Gen.chooseNum(0, 900))
    } yield offs
    forAll(gen) { offsets =>
      val today = java.time.LocalDate.of(2026, 6, 1)
      val rows = offsets.zipWithIndex.map { case (off, i) =>
        (s"I${i + 1}", today.minusDays(off.toLong).toString, i % 10 + 1, "Spotify")
      }
      val db = mkDb(rows)
      val kept = Maintenance.retention(db, Date.valueOf(today.toString)).getOrElse(db)
        .ranking.select(min("ranking_date")).as[Date].collect().headOption.flatMap(Option(_))
      kept.foreach { minDate =>
        assert(!minDate.toLocalDate.isBefore(today.minusYears(1)))
      }
    }
  }

  // ---- advanced-operator invariants --------------------------------

  private val tsGen = Gen.chooseNum(0L, 100L) // event times in minutes

  test("as-of join: adding right rows AFTER a left row never changes its match") {
    val rightsGen = Gen.nonEmptyListOf(Gen.zip(keyGen, tsGen))
    forAll2(Gen.zip(keyGen, tsGen), rightsGen) { case ((lk, lt), rights) =>
      def ts(m: Long) = new java.sql.Timestamp(m * 60000L)
      val left = Seq((1L, lk.toLong, ts(lt))).toDF("event_id", "k", "ts")
      val dedup = rights.distinct
      val right = dedup.zipWithIndex
        .map { case ((k, t), i) => (k.toLong, ts(t), s"p$i") }
        .toDF("k", "ts", "payload")
        .transform(MusicCsv.keepBestRow(_, Seq("k", "ts"), Seq(col("payload").asc)))
      val before = graft.operators.AsofJoin
        .joinAsOf(left, right, Seq("k"), "ts")
        .select("payload").collect().map(r => Option(r.getString(0))).toSeq
      // append strictly-later right rows for the same key
      val later = Seq((lk.toLong, ts(lt + 1), "zz_late"), (lk.toLong, ts(lt + 50), "zz_later"))
        .toDF("k", "ts", "payload")
      val after = graft.operators.AsofJoin
        .joinAsOf(left, right.unionByName(later), Seq("k"), "ts")
        .select("payload").collect().map(r => Option(r.getString(0))).toSeq
      assert(before == after)
    }
  }

  test("sessionize: per-user session ids are contiguous 1..n and respect the gap") {
    val evGen = Gen.nonEmptyListOf(Gen.zip(keyGen, tsGen))
    forAll(evGen) { evs =>
      val gapUs = 10L * 60 * 1000000 // 10 minutes
      val df = evs.distinct.zipWithIndex
        .map { case ((k, t), i) => (i.toLong, k.toLong, new java.sql.Timestamp(t * 60000L)) }
        .toDF("event_id", "user_id", "ts")
      val out = graft.operators.Sessionize
        .sessionize(df, "user_id", "ts", "event_id", gapUs)
        .select("user_id", "ts", "session_seq")
        .collect().map(r => (r.getLong(0), r.getTimestamp(1).getTime, r.getInt(2)))
      out.groupBy(_._1).foreach { case (_, rows) =>
        val sorted = rows.sortBy(r => (r._2, r._3))
        // ids contiguous from 1
        assert(sorted.map(_._3).distinct.sorted.toSeq == (1 to sorted.map(_._3).max).toSeq)
        // consecutive events in one session are within gap; session
        // breaks imply a strict gap
        sorted.sliding(2).foreach {
          case Array(a, b) =>
            if (a._3 == b._3) assert(b._2 - a._2 <= 10 * 60000L)
            else assert(b._2 - a._2 > 10 * 60000L)
          case _ =>
        }
      }
    }
  }

  test("scd2: per key, exactly one current row when updated; versions never overlap") {
    val dimGen = Gen.listOf(Gen.zip(keyGen, Gen.option(Gen.alphaStr.map(_.take(3)))))
    val updGen = Gen.listOf(Gen.zip(keyGen, Gen.option(Gen.alphaStr.map(_.take(3)))))
    forAll2(dimGen, updGen) { (dimRows, updRows) =>
      val dim = dimRows.distinctBy(_._1).map { case (k, v) =>
        (k.toLong, v, Date.valueOf("2024-01-01"), Option.empty[Date])
      }.toDF("k", "v", "valid_from", "valid_to")
      val upd = updRows.distinctBy(_._1).map { case (k, v) => (k.toLong, v) }.toDF("k", "v")
      val out = graft.operators.Scd2.merge(
        dim, upd, Seq("k"), Seq("v"), lit("2024-06-01").cast("date"))
        .select("k", "valid_from", "valid_to")
        .as[(Long, Date, Option[Date])].collect().toSeq
      out.groupBy(_._1).foreach { case (k, rows) =>
        // exactly one open (current) row per key present in the output
        assert(rows.count(_._3.isEmpty) == 1, s"key $k: ${rows.toList}")
        // closed rows end exactly where a later row starts or at eff
        rows.filter(_._3.isDefined).foreach { case (_, from, Some(to)) =>
          assert(!from.after(to), s"key $k inverted interval")
        }
      }
      // every input key survives; every update key appears
      val keys = out.map(_._1).toSet
      assert(dimRows.map(_._1.toLong).toSet.subsetOf(keys))
      assert(updRows.map(_._1.toLong).toSet.subsetOf(keys))
    }
  }

  test("interval merge: islands are disjoint per key and cover exactly the input span count") {
    val ivGen = Gen.nonEmptyListOf(
      Gen.zip(keyGen, Gen.chooseNum(0, 40)).map { case (k, s) => (k.toLong, s.toLong, s + 1L + (s % 5)) })
    forAll(ivGen) { ivs =>
      val df = ivs.toDF("k", "s", "e")
      val out = graft.operators.Intervals.mergeOverlapping(df, Seq("k"), "s", "e")
        .select("k", "island_start", "island_end", "n_merged")
        .as[(Long, Long, Long, Long)].collect().toSeq
      assert(out.map(_._4).sum == ivs.size, "every input interval lands in exactly one island")
      out.groupBy(_._1).foreach { case (k, islands) =>
        val sorted = islands.sortBy(_._2)
        sorted.sliding(2).foreach {
          case Seq((_, _, e1, _), (_, s2, _, _)) =>
            assert(e1 < s2, s"key $k: islands touch or overlap — should have merged")
          case _ =>
        }
        sorted.foreach { case (_, s, e, _) => assert(s < e) }
      }
    }
  }

  test("connected components: labels are invariant to edge order and direction") {
    val edgeGen = Gen.nonEmptyListOf(Gen.zip(keyGen, keyGen))
    forAll(edgeGen) { edges =>
      val e1 = edges.map { case (a, b) => (a.toLong, b.toLong) }.toDF("a", "b")
      val e2 = scala.util.Random.javaRandomToRandom(new java.util.Random(7))
        .shuffle(edges.map { case (a, b) => (b.toLong, a.toLong) }).toDF("a", "b")
      val l1 = graft.operators.Components.connectedComponents(e1)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val l2 = graft.operators.Components.connectedComponents(e2)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(l1 == l2)
      // every label is the min of its own component's members
      val byLabel = l1.groupBy(_._2)
      byLabel.foreach { case (label, members) =>
        assert(members.map(_._1).min == label)
      }
    }
  }

  test("fuzzy join blocking is exact: equals brute force on random strings") {
    // short random strings over a tiny alphabet maximize near-miss
    // density — the adversarial regime for deletion-neighborhood
    // blocking (shared affixes everywhere)
    val strGen = Gen.listOfN(6, Gen.oneOf('a', 'b')).map(_.mkString)
    val setGen = Gen.listOfN(12, strGen)
    forAll(setGen) { strs =>
      val df = strs.zipWithIndex.map { case (s, i) => (i.toLong, s) }
        .toDF("id", "s")
      val got = graft.operators.FuzzyJoin.selfJoinDist1(df, "id", "s")
        .select("a_id", "b_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val brute = df.as("x").join(df.as("y"), $"x.id" < $"y.id")
        .where(levenshtein($"x.s", $"y.s") <= 1)
        .select($"x.id", $"y.id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == brute)
    }
  }

  test("every scale/fold twin shares its baseline's oracle SQL verbatim") {
    // "one oracle, two plans": the twin's correctness claim is that it
    // computes the SAME function — if its oracle ever drifts from the
    // baseline's, that claim silently weakens to "passes some oracle"
    val o = SparkEntry.oracleSql
    for ((twin, base) <- Seq(
        "q_containment_prefix" -> "q_containment",
        "q_curate_incremental" -> "q_curate",
        "q_bm25_incremental" -> "q_bm25",
        "q_decontaminate_bloom" -> "q_decontaminate")) {
      assert(o(twin) == o(base), s"$twin's oracle drifted from $base's")
    }
  }

  test("packing is total and stable: every doc lands in exactly one bin") {
    val docsGen = Gen.listOfN(20,
      Gen.listOfN(5, Gen.oneOf("a", "bb", "ccc")).map(_.mkString(" ")))
    forAll(docsGen) { texts =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val packed = graft.text.TrainingMix.packSequences(df, 4)
      assert(packed.count() == texts.size)
      assert(packed.select("doc_id").distinct().count() == texts.size)
      // re-run bit-equal (no RNG state anywhere)
      val again = graft.text.TrainingMix.packSequences(df, 4)
      assert(rowsOf(packed.orderBy("doc_id")) == rowsOf(again.orderBy("doc_id")))
    }
  }
}
