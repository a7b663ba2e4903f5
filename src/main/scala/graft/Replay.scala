package graft

import graft.recall.{Cascade, ExternalScorer}
import graft.functions.VectorOps
import graft.ops.AsOf
import graft.streaming.BehaviorIngest
import org.apache.spark.sql.functions._

/** End-to-end replay of the reference's two lifecycles (SURVEY §3.1/§3.2)
  * against the fixture data, in one run:
  *
  *  1. behavior replay: events → kafka-shaped JSON lines → file stream →
  *     parse → executor-side profile upsert into the KV store
  *     (`user_profile:{u}:{ts}` contract);
  *  2. online recommendation: per-user as-of history at the replay
  *     horizon → history-item embedding fetch + mean-pool user vectors →
  *     recall ▷ rank ▷ rerank cascade with batched external-scorer stubs.
  *
  * `sbt "runMain graft.Replay [sfDir]"` — prints profile counts and the
  * top-5 recommendations for 5 users.
  */
object Replay {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = LocalSession.build()
    import spark.implicits._

    // ---- stage 1: behavior replay (stream → KV profiles)
    val ev = Tables.events(spark, dir)
    val stage = java.nio.file.Files.createTempDirectory("replay_in").toString
    val ckpt = java.nio.file.Files.createTempDirectory("replay_ckpt").toString
    // kafka-shaped payloads (producer contract): user, last-3 items, ts
    ev.groupBy($"user_id")
      .agg(max($"ts").as("ts"),
        slice(transform(array_sort(collect_list(struct($"ts", $"event_id"))),
          p => p.getField("event_id").cast("string")), -3, 3).as("history_items"))
      .select(to_json(struct($"user_id".cast("string").as("user_id"),
        $"history_items", $"ts".as("timestamp"))).as("value"))
      .coalesce(1).write.mode("overwrite").text(stage)
    BehaviorIngest.InMemoryKV.clear()
    val q = BehaviorIngest.profileSink(
      BehaviorIngest.parse(spark.readStream.text(stage), "value"),
      BehaviorIngest.InMemoryKV, ckpt).start()
    q.processAllAvailable(); q.stop()
    println(s"[replay] profiles written: ${BehaviorIngest.InMemoryKV.data.size()}")

    // ---- stage 2: recommendations at the replay horizon
    val horizon = ev.agg(max($"ts")).as[Long].head()
    val emb = Tables.embeddings(spark, dir)
    val nItems = emb.count()
    val users = ev.select($"user_id").distinct().limit(5)
      .withColumn("ts", lit(horizon))
    // as-of history (last 10 interactions), items mapped into embedding ids
    val behaviors = ev.select($"user_id", ($"event_id" % nItems).as("item_id"), $"ts")
    val hist = AsOf.historyAsOf(users, behaviors, "user_id", "ts", "ts",
      payload = $"item_id", outCol = "history", n = 10, tieBreak = $"item_id")
    // user vector = mean-pool of history-item embeddings (J5 + A7)
    val fetched = hist.select($"user_id", $"history", explode($"history").as("item_id"))
      .join(broadcast(emb.select($"vec_id".as("item_id"), $"embedding")), "item_id")
    val userVecs = VectorOps.meanPool(fetched, Seq("user_id"), $"embedding", "user_emb")
      .join(hist.select($"user_id", $"history"), "user_id")
    val items = emb.select($"vec_id".as("item_id"), $"embedding".as("item_emb"))
    // real neural stages (din.py / ranknet.py arithmetic on fixture
    // weights): item features are embedding slices, DIN histories are the
    // user's OWN history-item feature vectors in interaction order
    val itemFeats = emb.select($"vec_id".as("item_id"),
      slice($"embedding".cast("array<double>"), 1, 8).as("feat"))
    val dinHists = hist.select($"user_id", explode($"history").as("item_id"))
      .join(broadcast(itemFeats), "item_id")
      .groupBy($"user_id")
      .agg(transform(array_sort(collect_list(struct($"item_id", $"feat"))),
        p => p.getField("feat")).as("hist"))
    val rnUserFeats = userVecs.select($"user_id",
      slice($"user_emb".cast("array<double>"), 1, 8).as("ufeat"))
    val recs = Cascade.recommend(userVecs, items,
      graft.recall.NeuralForward.dinScorer(itemFeats, dinHists,
        graft.recall.NeuralForward.fixtureDin()),
      graft.recall.NeuralForward.rankNetScorer(rnUserFeats, itemFeats,
        graft.recall.NeuralForward.fixtureRankNet()),
      n1 = 50, n2 = 20, n3 = 5)
    // materialize once; show + count on the collected rows (the cascade
    // cross-join is the heavy stage — don't run it twice)
    val out = recs.orderBy($"user_id", $"final_rank").collect()
    println("[replay] top-5 recommendations per user:")
    out.take(25).foreach(r => println(s"[replay]   $r"))
    require(out.nonEmpty, "no recommendations produced")
    println("[replay] OK")
    spark.stop()
  }
}
