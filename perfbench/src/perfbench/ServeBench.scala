package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import graft.Tables
import graft.functions.VectorOps
import graft.ops.AsOf
import graft.recall.Cascade
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** `serve`: the online path, closed loop with 2 clients. A request is
  * 30-60 users drawn uniformly at a horizon in the second half of the
  * time range: as-of last-50 history ▷ mean-pooled user vector ▷ recall
  * 100 ▷ rank 50 ▷ rerank 10.
  *
  * Untraced, one request is one lazy plan collected at the end. Traced,
  * each layer's result is collected at its boundary and fed to the next
  * layer as a local relation, so each layer's time is its own. */
final class ServeBench(seed: Long, size: Sizes) extends Workload {
  val Clients = 2
  val HistoryLen = 50
  val N1 = 100; val N2 = 50; val N3 = 10
  val rootSpan = "serve.request"

  private[perfbench] var data: Gen.ServeData = _
  private var dir: String = _
  private val ranker: Cascade.Scorer = Cascade.stubScorer("user_id", "item_id")
  private val reranker: Cascade.Scorer = Cascade.mixScorer("user_id", "item_id")

  final case class Request(id: Long, users: Array[Int], horizon: Long)
  final case class Response(req: Request, rows: Array[(Long, Long, Int)], ms: Double)

  /** Request `id` asks for 30-60 users: the count follows the golden
    * ratio sequence, so the requests of any window spread evenly over
    * 30..60 and a run's mix of request sizes does not depend on the seed;
    * the seed picks the users and the horizon. */
  def request(id: Long): Request = {
    val r = Gen.rng(seed, 5000000L + id)
    val g = id * 0.6180339887498949
    val m = math.min(size.serveUsers, 30 + ((g - math.floor(g)) * 31).toInt)
    val users = scala.collection.mutable.LinkedHashSet.empty[Int]
    while (users.size < m) users += r.nextInt(size.serveUsers)
    Request(id, users.toArray, data.tMax / 2 + r.nextLong(data.tMax / 2))
  }

  def generate(spark: SparkSession, dir: String): Unit = {
    data = Gen.serve(seed, size)
    Gen.writeServe(spark, data, dir)
    this.dir = dir
  }

  /** Plans, codegen, file listings and JIT of the serving path: the
    * first ~15 requests of a new JVM run up to 2x slower than later
    * ones. The same 2 clients as the window, on other requests. */
  def warmUp(spark: SparkSession): Unit = {
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val clients = (0 until Clients).map { c =>
      new Thread(() =>
        try (c until size.warmRequests by Clients).foreach(i =>
          serveOne(spark, request(-1L - i), Tracer.off))
        catch { case t: Throwable => failure.compareAndSet(null, t) })
    }
    clients.foreach(_.start())
    clients.foreach(_.join())
    Option(failure.get()).foreach(t => throw t)
  }

  private def behaviors(spark: SparkSession) = Tables.table(spark, dir, "behaviors")
  private def items(spark: SparkSession) = Tables.table(spark, dir, "items")

  private def queries(spark: SparkSession, q: Request): DataFrame =
    spark.createDataFrame(q.users.toSeq.map(u => Row(u.toLong, q.horizon)).asJava,
      StructType(Seq(StructField("user_id", LongType), StructField("ts", LongType))))

  private def local(spark: SparkSession, rows: Array[Row], schema: StructType) =
    spark.createDataFrame(rows.toSeq.asJava, schema)

  /** One request through the engine; returns (user, item, final_rank). */
  def serveOne(spark: SparkSession, q: Request, tr: Tracer): Array[(Long, Long, Int)] = {
    val itemsDf = items(spark)
    def userVectors(hist: DataFrame): DataFrame = {
      val fetched = hist.select(col("user_id"), explode(col("history")).as("item_id"))
        .join(broadcast(itemsDf), "item_id")
      VectorOps.meanPool(fetched, Seq("user_id"), col("item_emb"), "user_emb")
    }
    def asOf(): DataFrame =
      AsOf.historyAsOf(queries(spark, q), behaviors(spark), "user_id", "ts", "ts",
        payload = col("item_id"), outCol = "history", n = HistoryLen,
        tieBreak = col("item_id")).select(col("user_id"), col("history"))
    val out: Array[Row] = if (!tr.enabled) {
      val hist = asOf()
      val users = userVectors(hist).join(hist, "user_id")
      Cascade.recommend(users, itemsDf, ranker, reranker, N1, N2, N3).collect()
    } else tr.span(rootSpan, q.id) {
      val hist = tr.span("serve.asof", q.id) {
        val df = asOf(); local(spark, df.collect(), df.schema)
      }
      val users = tr.span("serve.user_vec", q.id) {
        val df = userVectors(hist).join(hist, "user_id"); local(spark, df.collect(), df.schema)
      }
      val recalled = tr.span("serve.recall", q.id) {
        val df = Cascade.recall(users, itemsDf, N1); local(spark, df.collect(), df.schema)
      }
      val ranked = tr.span("serve.rank", q.id) {
        val df = Cascade.rankStage(recalled, ranker, N2, "rank_stage")
        local(spark, df.collect(), df.schema)
      }
      tr.span("serve.rerank", q.id) {
        Cascade.rankStage(ranked.drop("rank_stage"), reranker, N3, "final_rank")
          .select(col("user_id"), col("item_id"), col("final_rank")).collect()
      }
    }
    out.map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
  }

  def run(spark: SparkSession, seconds: Double, tr: Tracer): RunResult = {
    val next = new AtomicLong(0)
    val done = new ConcurrentLinkedQueue[Response]()
    val errors = new AtomicLong(0)
    val t0 = System.nanoTime()
    val end = t0 + (seconds * 1e9).toLong
    // per client: requests completed and when the last one completed
    val completed = new Array[Int](Clients)
    val lastDone = Array.fill(Clients)(t0)
    val clients = (0 until Clients).map { c =>
      new Thread(() => {
        // at least one request per client, however short the window
        var sent = 0
        while (sent == 0 || System.nanoTime() < end) {
          sent += 1
          val q = request(next.getAndIncrement())
          val s = System.nanoTime()
          try {
            val rows = serveOne(spark, q, tr)
            val e = System.nanoTime()
            done.add(Response(q, rows, (e - s) / 1e6))
            completed(c) += 1
            lastDone(c) = e
          } catch {
            case t: Throwable =>
              errors.incrementAndGet()
              System.err.println(s"[perfbench] serve request ${q.id} failed: $t")
          }
        }
      })
    }
    clients.foreach(_.start())
    clients.foreach(_.join())
    tr.drain()
    val responses = done.asScala.toSeq.sortBy(_.req.id)
    val lat = responses.map(_.ms)
    // each client's requests over its own busy time: a client that
    // finished early is not charged for the other's last request
    val reqPerS = (0 until Clients).map(c =>
      if (completed(c) == 0) 0.0 else completed(c) / ((lastDone(c) - t0) / 1e9)).sum

    // checks: every response is well-formed; every 10th one equals an
    // independent recomputation of the cascade
    var wrong = 0L
    var recomputed = 0
    responses.foreach { r =>
      val ok = ServeCheck.wellFormed(data, r.req, r.rows, N3, HistoryLen) &&
        (r.req.id % 10 != 0 || { recomputed += 1; ServeCheck.sameAsReference(data, r.req, r.rows, this) })
      if (!ok) wrong += 1
    }
    val attempted = responses.size + errors.get()
    val failed = wrong + errors.get()
    val checks = Seq(
      Check("serve.responses", wrong == 0,
        s"${responses.size - wrong}/${responses.size} responses correct, $recomputed recomputed independently"),
      Check("serve.errors", errors.get() == 0, s"${errors.get()} requests threw"))
    val above = lat.count(_ > Stats.percentile(lat, 0.9))
    val lines = Seq(
      f"[perfbench] serve.p50_ms = ${Stats.median(lat)}%.3f ms",
      f"[perfbench] serve.p90_ms = ${Stats.percentile(lat, 0.9)}%.3f ms ($above of ${lat.size} requests above it)",
      f"[perfbench] serve.req_per_s = $reqPerS%.3f 1/s")
    RunResult(attempted, failed, Stats.median(lat), Stats.percentile(lat, 0.9),
      reqPerS, checks, lines, if (tr.enabled) layers(tr, responses) else Map.empty)
  }

  private def layers(tr: Tracer, rs: Seq[Response]): Map[String, Double] = {
    val n = math.max(1, rs.size).toDouble
    val t = tr.totals("serve.")
    val (planMs, _) = tr.planning
    val (cgMs, cgN) = tr.codegen
    // candidates scored by recall: every catalog item outside the user's
    // history, per user of the request
    val candidates = rs.map { r =>
      r.req.users.map(u => data.nItems - data.historyAt(u, r.req.horizon, HistoryLen).distinct.length).sum.toDouble
    }
    val kept = rs.map(r => r.req.users.length * N1.toDouble)
    Map(
      "serve.asof.ms" -> Stats.median(tr.durationsMs("serve.asof")),
      "serve.user_vec.ms" -> Stats.median(tr.durationsMs("serve.user_vec")),
      "serve.recall.ms" -> Stats.median(tr.durationsMs("serve.recall")),
      "serve.recall.candidates" -> Stats.median(candidates),
      "serve.recall.kept_ratio" -> kept.sum / math.max(1.0, candidates.sum),
      "serve.rank.ms" -> Stats.median(tr.durationsMs("serve.rank")),
      "serve.rerank.ms" -> Stats.median(tr.durationsMs("serve.rerank")),
      "serve.plan.ms" -> planMs / n,
      "serve.codegen.ms" -> cgMs / n,
      "serve.codegen.compiles" -> cgN / n,
      "serve.jobs" -> t.jobs / n,
      "serve.stages" -> t.stages / n,
      "serve.tasks" -> t.tasks / n,
      "serve.task_busy.ms" -> t.runMs / n,
      "serve.launch_wait.ms" -> t.launchWaitMs / n)
  }
}

/** Independent checks of serve responses, in plain Scala collections. */
object ServeCheck {
  /** 10 items per user, ranks 1..10, no item from the user's history. */
  def wellFormed(d: Gen.ServeData, q: ServeBench#Request,
      rows: Array[(Long, Long, Int)], k: Int, histLen: Int): Boolean = {
    val byUser = rows.groupBy(_._1)
    byUser.keySet == q.users.map(_.toLong).toSet && byUser.forall { case (u, rs) =>
      val hist = d.historyAt(u.toInt, q.horizon, histLen).toSet
      rs.map(_._3).sorted.sameElements(1 to k) &&
        rs.map(_._2).distinct.length == k &&
        rs.forall(r => !hist.contains(r._2.toInt))
    }
  }

  /** `Features.stableHash01(concat_ws("§", user, item), 1e6)`: Spark's
    * xxhash64 (seed 42) of the UTF-8 string, pmod 1e6, / 1e6. */
  def stubScore(u: Long, i: Long): Double = {
    val b = s"$u§$i".getBytes("UTF-8")
    val h = org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
      b, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, b.length, 42L)
    java.lang.Math.floorMod(h, 1000000L).toDouble / 1000000
  }

  def mixScore(u: Long, i: Long): Long =
    java.lang.Math.floorMod(u * 2654435761L + i * 40503L, 1000000L)

  /** The cascade recomputed: last-50 history, mean of history item
    * embeddings, dot-product top-100 outside the history, stub top-50,
    * mix top-10; ties by item id. */
  def reference(d: Gen.ServeData, q: ServeBench#Request, n1: Int, n2: Int,
      n3: Int, histLen: Int): Map[Long, Seq[Long]] =
    q.users.map { u =>
      val hist = d.historyAt(u, q.horizon, histLen)
      val dim = d.emb(0).length
      val uv = new Array[Double](dim)
      hist.foreach(i => (0 until dim).foreach(j => uv(j) += d.emb(i)(j).toDouble))
      (0 until dim).foreach(j => uv(j) /= hist.length)
      val hs = hist.toSet
      val recall = (0 until d.nItems).filterNot(hs.contains).map { i =>
        var s = 0.0
        (0 until dim).foreach(j => s += uv(j) * d.emb(i)(j).toDouble)
        (i.toLong, s)
      }.sortBy(p => (-p._2, p._1)).take(n1).map(_._1)
      val ranked = recall.map(i => (i, stubScore(u, i))).sortBy(p => (-p._2, p._1)).take(n2).map(_._1)
      val top = ranked.map(i => (i, mixScore(u, i))).sortBy(p => (-p._2, p._1)).take(n3).map(_._1)
      u.toLong -> top
    }.toMap

  def sameAsReference(d: Gen.ServeData, q: ServeBench#Request,
      rows: Array[(Long, Long, Int)], b: ServeBench): Boolean = {
    val got = rows.groupBy(_._1).map { case (u, rs) => u -> rs.sortBy(_._3).map(_._2).toSeq }
    got == reference(d, q, b.N1, b.N2, b.N3, b.HistoryLen)
  }
}
