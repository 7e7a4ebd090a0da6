package graft.cdc

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * Fold semantics of [[EnvelopeApply]] on hand-built envelopes: overlay order, tombstone,
 * resurrection, new-key materialization, and pk-metadata-driven keying. The oracle-gated
 * end-to-end version is `cdc_apply_merge` (CdcQueries); this spec pins the corner cases
 * the modular-arithmetic script can't hit (DELETE then re-INSERT of the same key,
 * out-of-order arrival).
 */
/** Envelope row shape for the streaming-apply harness feed. */
final case class EnvRow(commit_scn: Long, scn: Long, seq: Long, operation: String,
                        data: Map[String, String], before: Map[String, String])

class EnvelopeApplySpec extends AnyFunSuite {

  private lazy val spark = graft.SparkTestSession.spark

  private def env(rows: Seq[(Long, Long, Long, String, Map[String, String], Map[String, String])]) = {
    import spark.implicits._
    rows.toDF("commit_scn", "scn", "seq", "operation", "data", "before")
  }

  test("apply replays insert/update/delete in commit order onto the snapshot") {
    import spark.implicits._
    val snapshot = Seq((1L, "a", 10), (2L, "b", 20), (3L, "c", 30)).toDF("id", "name", "v")
    val schema = Catalog.withKeyMetadata(snapshot.schema, Set("id"))

    val events = env(Seq(
      // key 1: two updates, later (commit 2) wins on NAME; V untouched
      (2L, 1L, 1L, RedoEvent.Update, Map("ID" -> "1", "NAME" -> "a2"), Map("ID" -> "1")),
      (1L, 1L, 1L, RedoEvent.Update, Map("ID" -> "1", "NAME" -> "a1"), Map("ID" -> "1")),
      // key 2: tombstone (data null per envelope rules)
      (1L, 2L, 1L, RedoEvent.Delete, null, Map("ID" -> "2")),
      // key 3: delete then re-insert — must resurrect with the inserted values
      (1L, 3L, 1L, RedoEvent.Delete, null, Map("ID" -> "3")),
      (1L, 3L, 2L, RedoEvent.Insert, Map("ID" -> "3", "NAME" -> "c9", "V" -> "99"), null),
      // key 4: new key inserted then partially updated (V stays from the insert)
      (1L, 4L, 1L, RedoEvent.Insert, Map("ID" -> "4", "NAME" -> "d", "V" -> "40"), null),
      (1L, 4L, 2L, RedoEvent.Update, Map("ID" -> "4", "NAME" -> "d2"), Map("ID" -> "4"))))

    val out = EnvelopeApply(snapshot, events, schema).orderBy($"id").collect()
    assert(out.toSeq === Seq(
      Row(1L, "a2", 10), Row(3L, "c9", 99), Row(4L, "d2", 40)))
  }

  test("UPDATE SET col = NULL nulls the replica column — explicit null beats coalesce (ADVICE r4)") {
    import spark.implicits._
    val snapshot = Seq((1L, "a", 10), (2L, "b", 20)).toDF("id", "name", "v")
    val schema = Catalog.withKeyMetadata(snapshot.schema, Set("id"))
    val events = env(Seq(
      // key 1: NAME explicitly set to NULL — the stale snapshot value must NOT survive
      (1L, 1L, 1L, RedoEvent.Update, Map("ID" -> "1", "NAME" -> null), Map("ID" -> "1")),
      // key 2: set to NULL then re-set — later value wins over the explicit null too
      (1L, 2L, 1L, RedoEvent.Update, Map("ID" -> "2", "NAME" -> null), Map("ID" -> "2")),
      (1L, 2L, 2L, RedoEvent.Update, Map("ID" -> "2", "NAME" -> "b2"), Map("ID" -> "2"))))
    val out = EnvelopeApply(snapshot, events, schema).orderBy($"id").collect()
    assert(out.toSeq === Seq(Row(1L, null, 10), Row(2L, "b2", 20)))
  }

  test("INSERT replaces wholesale: columns absent from its data become NULL, not the snapshot value") {
    import spark.implicits._
    val snapshot = Seq((1L, "a", 10)).toDF("id", "name", "v")
    val schema = Catalog.withKeyMetadata(snapshot.schema, Set("id"))
    // delete + re-insert listing only (ID, NAME): V must be NULL — the old row is gone
    val events = env(Seq(
      (1L, 1L, 1L, RedoEvent.Delete, null, Map("ID" -> "1")),
      (1L, 1L, 2L, RedoEvent.Insert, Map("ID" -> "1", "NAME" -> "a9"), null)))
    val out = EnvelopeApply(snapshot, events, schema).collect()
    assert(out.toSeq === Seq(Row(1L, "a9", null)))
  }

  test("streaming: tombstoned keys are EVICTED from state; re-insert outranks the tombstone (ADVICE r4)") {
    import spark.implicits._
    import org.apache.spark.sql.Encoders
    val snapshot = Seq((1L, "a", 10), (2L, "b", 20)).toDF("id", "name", "v")
    val schema = Catalog.withKeyMetadata(snapshot.schema, Set("id"))
    val b1 = Seq(
      // key 1 deleted in batch 1 (state must evict), key 2 nulled then updated
      EnvRow(1L, 1L, 1L, RedoEvent.Delete, null, Map("ID" -> "1")),
      EnvRow(1L, 2L, 1L, RedoEvent.Update, Map("ID" -> "2", "NAME" -> null), Map("ID" -> "2")))
    val b2 = Seq(
      // key 1 re-inserted in batch 2 AFTER eviction: its (commit_scn, scn, seq) version
      // must outrank the batch-1 tombstone in latestChanges
      EnvRow(2L, 3L, 1L, RedoEvent.Insert, Map("ID" -> "1", "NAME" -> "a2", "V" -> "11"), null))
    val out = graft.engine.StreamGate.runTwoBatches(spark,
        Encoders.product[EnvRow], "env_apply_evict_sink", b1, b2) { ds =>
      EnvelopeApply.applyStreaming(ds.toDF(), schema).toDF()
    }
    val merged = EnvelopeApply.applyChanges(snapshot,
      EnvelopeApply.latestChanges(out, schema), schema).orderBy($"id").collect()
    assert(merged.toSeq === Seq(Row(1L, "a2", 11), Row(2L, null, 20)))
  }

  test("streaming: a late-arriving OLDER event's emission outranks the equal-version predecessor") {
    import spark.implicits._
    import org.apache.spark.sql.Encoders
    val snapshot = Seq((1L, "a", 10)).toDF("id", "name", "v")
    val schema = Catalog.withKeyMetadata(snapshot.schema, Set("id"))
    // batch 1 applies version (1,5,1); batch 2 delivers ONLY an older event (1,3,1) that
    // sets V. Both emissions then carry max version (1,5,1) — the vepoch tiebreaker must
    // make latestChanges pick batch 2's emission (which absorbed BOTH events), not leave
    // the choice to max_by encounter order where V's update could silently vanish.
    val b1 = Seq(EnvRow(1L, 5L, 1L, RedoEvent.Update, Map("ID" -> "1", "NAME" -> "n5"), Map("ID" -> "1")))
    val b2 = Seq(EnvRow(1L, 3L, 1L, RedoEvent.Update, Map("ID" -> "1", "V" -> "77"), Map("ID" -> "1")))
    val out = graft.engine.StreamGate.runTwoBatches(spark,
        Encoders.product[EnvRow], "env_apply_late_sink", b1, b2) { ds =>
      EnvelopeApply.applyStreaming(ds.toDF(), schema).toDF()
    }
    val merged = EnvelopeApply.applyChanges(snapshot,
      EnvelopeApply.latestChanges(out, schema), schema).collect()
    assert(merged.toSeq === Seq(Row(1L, "n5", 77)))
  }

  test("streaming: composite keys with NULL components stay DISTINCT (concat_ws null-skip)") {
    import spark.implicits._
    import org.apache.spark.sql.Encoders
    val snapshot = Seq((1L, "p", "a", 10)).toDF("id", "region", "name", "v")
    val schema = Catalog.withKeyMetadata(snapshot.schema, Set("id", "region"))
    // {ID:"7", REGION:null} vs {ID:null, REGION:"7"} vs {ID:"7", REGION:""}: a bare
    // concat_ws key would collide all three onto "7" and fold them into ONE keyed state —
    // the second key's UPDATE would overlay the first key's image
    val b1 = Seq(
      EnvRow(1L, 1L, 1L, RedoEvent.Update, Map("ID" -> "7", "REGION" -> null, "NAME" -> "k1"), Map("ID" -> "7")),
      EnvRow(1L, 2L, 1L, RedoEvent.Update, Map("ID" -> null, "REGION" -> "7", "NAME" -> "k2"), Map("REGION" -> "7")),
      EnvRow(1L, 3L, 1L, RedoEvent.Update, Map("ID" -> "7", "REGION" -> "", "NAME" -> "k3"), Map("ID" -> "7")))
    val b2 = Seq(
      EnvRow(2L, 4L, 1L, RedoEvent.Update, Map("ID" -> "7", "REGION" -> null, "V" -> "42"), Map("ID" -> "7")))
    val out = graft.engine.StreamGate.runTwoBatches(spark,
        Encoders.product[EnvRow], "env_apply_nullkey_sink", b1, b2) { ds =>
      EnvelopeApply.applyStreaming(ds.toDF(), schema).toDF()
    }
    // three distinct keyed states, and batch 2's update landed on k1's state (NAME kept)
    assert(out.select("key").distinct().count() == 3L)
    val k1 = out.filter(col("m").getItem("NAME") === "k1" && col("m").getItem("V").isNotNull)
      .orderBy(col("vscn").desc).collect()
    assert(k1.nonEmpty && k1.head.getAs[Map[String, String]]("m")("V") == "42")
  }

  test("property: apply ≡ applyStreaming ≡ a fold model on 300 random histories") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val cols = Seq("NAME", "V", "W") // W exercises payload columns outside the schema
    val events = (1 to 300).flatMap { k =>
      val n = rnd.nextInt(9)
      val evs = (1 to n).map { i =>
        val op = rnd.nextInt(12) match {
          case 0 | 1 => RedoEvent.Delete
          case 2 | 3 => RedoEvent.Insert
          case 4     => "DDL" // non-DML rider (default dmlTypes admits DDL): every path
                              // must agree it clears `deleted` as the last event and
                              // contributes no winners and no boundary
          case _     => RedoEvent.Update
        }
        val data: Map[String, String] =
          if (op == RedoEvent.Delete || op == "DDL") null
          else Map("ID" -> k.toString) ++ cols.filter(_ => rnd.nextBoolean())
            .map(c => c -> (if (rnd.nextInt(4) == 0) null
                            else if (c == "V") (k * 100 + i).toString // int-typed column
                            else s"$c$i")).toMap
        val before: Map[String, String] =
          if (op == RedoEvent.Insert) null else Map("ID" -> k.toString)
        // random commit_scn + unique seq: a total per-key order that is NOT arrival order
        (1L + rnd.nextInt(3), k.toLong, i.toLong, op, data, before)
      }
      rnd.shuffle(evs)
    }
    val snap = (1 to 150).map(k => (k.toLong, s"n$k", k * 10))
    val snapshot = snap.toDF("id", "name", "v")
    val schema = Catalog.withKeyMetadata(snapshot.schema, Set("id"))

    // the reference: a sequential fold per key (scn = k) in (commit_scn, scn, seq)
    // order — INSERT replaces, DELETE tombstones, any other op overlays its payload by
    // key presence — whose result then overlays the snapshot row
    final case class Fold(deleted: Boolean, m: Map[String, String], replaced: Boolean)
    val folds = events.groupBy(_._2).map { case (k, evs) =>
      k -> evs.sortBy(e => (e._1, e._2, e._3)).foldLeft(Fold(false, Map.empty, false)) {
        case (_, (_, _, _, RedoEvent.Insert, data, _)) => Fold(false, data, true)
        case (_, (_, _, _, RedoEvent.Delete, _, _))    => Fold(true, Map.empty, true)
        case (f, (_, _, _, _, data, _)) =>
          Fold(false, f.m ++ Option(data).getOrElse(Map.empty), f.replaced)
      }
    }
    val snapRows = snap.map { case (id, n, v) => id -> Row(id, n, v) }.toMap
    def column(f: Fold, base: Option[Row], c: String, i: Int, typed: String => Any): Any =
      if (f.m.contains(c)) Option(f.m(c)).map(typed).orNull
      else if (f.replaced) null
      else base.map(_.get(i)).orNull
    val model = (snapRows.keySet ++ folds.keySet).toSeq.sorted.flatMap { id =>
      folds.get(id) match {
        case None                 => snapRows.get(id)
        case Some(f) if f.deleted => None
        case Some(f) => Some(Row(id, column(f, snapRows.get(id), "NAME", 1, identity),
          column(f, snapRows.get(id), "V", 2, _.toInt)))
      }
    }

    val batch = EnvelopeApply(snapshot, env(events), schema).orderBy($"id").collect().toSeq
    // the same histories as ONE micro-batch through the streaming applier, replayed onto
    // the snapshot by the shared MERGE stage
    val emitted = graft.engine.StreamGate.runBatches(spark,
        org.apache.spark.sql.Encoders.product[EnvRow], "env_apply_property_sink",
        Seq(events.map((EnvRow.apply _).tupled))) { ds =>
      EnvelopeApply.applyStreaming(ds.toDF(), schema).toDF()
    }
    val streamed = EnvelopeApply.applyChanges(snapshot,
      EnvelopeApply.latestChanges(emitted, schema), schema).orderBy($"id").collect().toSeq
    assert(batch === model)
    assert(streamed === model)
  }

  test("apply requires pk/uq key metadata on the schema") {
    import spark.implicits._
    val snapshot = Seq((1L, "a")).toDF("id", "name")
    val e = intercept[IllegalArgumentException] {
      EnvelopeApply(snapshot, env(Nil), snapshot.schema)
    }
    assert(e.getMessage.contains("key metadata"))
  }

  test("PK-less table keys on its unique index (SQL:13 duq → Column.java:19-20 fallback)") {
    import spark.implicits._
    val snapshot = Seq((1L, "a", 10), (2L, "b", 20)).toDF("id", "name", "v")
    // no pk flag anywhere; id carries only the uq flag — effectiveKeys must fall back
    val schema = Catalog.withKeyMetadata(snapshot.schema, Set.empty, uqCols = Set("id"))
    val events = env(Seq(
      (1L, 1L, 1L, RedoEvent.Update, Map("ID" -> "1", "NAME" -> "a2"), Map("ID" -> "1")),
      (1L, 2L, 1L, RedoEvent.Delete, null, Map("ID" -> "2"))))
    val out = EnvelopeApply(snapshot, events, schema).orderBy($"id").collect()
    assert(out.toSeq === Seq(Row(1L, "a2", 10)))
  }
}
