package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import graft.Engine
import graft.functions.Embeddings
import graft.operators.{Cdc, SimilaritySearch}
import org.apache.spark.sql.functions.lit

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** The read side of `cdc_sync`: closed-loop clients of `ServeHttp`'s
  * `GET /query`, and the checks of its answers against cosines the
  * benchmark computes itself from the sink's vectors. */
object Serving {
  val Clients = 3
  val K = 10
  /** Queries per client per round; query `i * PerClient + j` of a round is
    * sent with `mode=exact` when it is in `ExactSlots` (2 of 9, about one in
    * five), every other one takes the default route, the IVF index. */
  val PerClient = 3
  val ExactSlots = Set(4, 8)

  /** One finished `/query` call as the client saw it. */
  final case class Answer(q: String, exact: Boolean, ms: Double, status: Int, ids: Seq[String],
      scores: Seq[Double], servedBy: String)

  private val mapper = new ObjectMapper()

  def get(port: Int, q: String, exact: Boolean): Answer = {
    val url = new java.net.URL(s"http://127.0.0.1:$port/query?k=$K&q=" +
      java.net.URLEncoder.encode(q, "UTF-8") + (if (exact) "&mode=exact" else ""))
    val t0 = System.nanoTime()
    val c = url.openConnection().asInstanceOf[java.net.HttpURLConnection]
    val status = c.getResponseCode
    val body = {
      val in = if (status < 400) c.getInputStream else c.getErrorStream
      try new String(in.readAllBytes(), "UTF-8") finally in.close()
    }
    val ms = (System.nanoTime() - t0) / 1e6
    if (status != 200) Answer(q, exact, ms, status, Nil, Nil, body)
    else {
      val j = mapper.readTree(body)
      val rows = j.path("rows").elements().asScala.toSeq
      Answer(q, exact, ms, status, rows.map(_.path("id").asText()), rows.map(_.path("score").asDouble()),
        j.path("served_by").asText())
    }
  }

  /** One round of queries: `Clients` threads, each sending its `PerClient`
    * queries back to back. In a traced run each query is followed by the
    * same search called directly on the engine, inside spans, so the HTTP
    * overhead and the per-layer times can be told apart. */
  def round(ctx: Ctx, engine: Engine, sinkDir: String, port: Int, gen: Gen, round: Int,
      direct: ConcurrentLinkedQueue[(Boolean, Double, Double)]): Seq[Answer] = {
    val trace = ctx.trace
    val answers = new ConcurrentLinkedQueue[Answer]()
    val errors = new ConcurrentLinkedQueue[Throwable]()
    val texts = (0 until Clients * PerClient).map(_ => gen.words(2 + gen.rnd.nextInt(4)))
    val threads = (0 until Clients).map { i =>
      new Thread(() => {
        try (0 until PerClient).foreach { j =>
          val slot = i * PerClient + j
          val (q, exact) = (texts(slot), ExactSlots(slot))
          val a = get(port, q, exact)
          answers.add(a)
          if (trace.enabled) {
            val (_, ms) = Stats.timed(trace.span(if (exact) "query.exact" else "query.ivf", s"r$round-$slot") {
              if (exact) {
                val ns = trace.span("sink.read")(Cdc.readVectorSink(ctx.session, sinkDir, Some(Cdc.DefaultNamespace)))
                trace.span("search.exact")(SimilaritySearch.topK(ns, "id", "embedding",
                  lit(Embeddings.embed(q)).cast("array<float>"), K).collect())
              } else trace.span("ivf.search")(engine.searchIvf(engine.ivfIndexDir(), q, K).collect())
            })
            direct.add((exact, a.ms, ms))
          }
        } catch { case e: Throwable => errors.add(e) }
      }, s"perfbench-client-$i")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    errors.asScala.headOption.foreach(e => throw e)
    answers.asScala.toSeq
  }

  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot, na, nb = 0.0
    var i = 0
    while (i < a.length) { dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i); i += 1 }
    if (na == 0 || nb == 0) 0.0 else dot / math.sqrt(na * nb)
  }

  /** Brute-force cosine top-k over the sink's vectors: (id, score). */
  def bruteTopK(vs: Seq[SinkCheck.Vec], q: String, k: Int): Seq[(String, Double)] = {
    val p = Embeddings.embed(q)
    vs.map(v => v.id -> cosine(p, v.emb)).sortBy { case (id, s) => (-s, id) }.take(k)
  }

  /** Every answer: 200, at most K rows, scores non-increasing, served by
    * the route asked for; every score the cosine of that id's stored vector
    * (ids are content hashes, so an id's vector never changes). */
  def checkAnswers(all: Seq[Answer], byId: Map[String, Array[Float]], checks: Checks): Unit = {
    all.filter(_.status != 200).take(5).foreach(a => checks.require(false, s"/query '${a.q}' answered ${a.status}: ${a.servedBy}"))
    all.filter(_.status == 200).foreach { a =>
      checks.require(a.ids.size <= K, s"/query '${a.q}' returned ${a.ids.size} > $K rows")
      checks.require(a.scores.zip(a.scores.drop(1)).forall { case (x, y) => x >= y },
        s"/query '${a.q}' scores are not non-increasing: ${a.scores}")
      checks.require(a.servedBy == (if (a.exact) "exact" else "ivf"), s"/query '${a.q}' served by ${a.servedBy}")
      val p = Embeddings.embed(a.q)
      a.ids.zip(a.scores).foreach { case (id, s) =>
        checks.require(byId.get(id).exists(v => math.abs(cosine(p, v) - s) <= 2e-6),
          s"/query '${a.q}': score $s of $id is not the cosine of its stored vector")
      }
    }
  }

  /** An exact answer is a brute-force top-k: no id left out scores above
    * the lowest one returned (ties at the route's 6-decimal rounding may
    * swap places). */
  def checkExact(a: Answer, all: Seq[SinkCheck.Vec], checks: Checks): Unit = {
    checks.require(a.status == 200 && a.ids.size == math.min(K, all.size), s"exact '${a.q}' returned ${a.ids.size} rows")
    val truth = bruteTopK(all, a.q, a.ids.size + 1)
    if (a.scores.nonEmpty) {
      val outside = truth.filterNot { case (id, _) => a.ids.contains(id) }
      checks.require(outside.forall(_._2 <= a.scores.min + 2e-6),
        s"exact '${a.q}': ${outside.headOption} outranks the returned top-$K")
    }
  }
}
