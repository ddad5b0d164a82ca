package perfbench

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.{Dashboard, Pipelines, Tables}
import graft.functions.Functions
import graft.operators.{IvfIndex, PqIndex}
import graft.streaming.Streaming

/** Sizes of one `stream_ingest` cycle and of its indexes. */
final case class StreamSpec(users: Int, tweets: Int, vectors: Int,
                            nlist: Int, nprobe: Int, pqM: Int, pqK: Int,
                            shortlist: Int, minPasses: Int)

/** Seed-generated micro-batches shaped like the reference's topics
  * (`Tables.usersSchema`, `Tables.tweetsSchema`) plus embedding vectors,
  * derived from the read-only tables by the SURVEY §7.1 role mapping:
  * customers are users, events are tweets. Batch `b` depends only on
  * (seed, b), never on what ran before it.
  *
  * A user's follower, status and friend counts are functions of its key,
  * so its influence score (and KOL membership) is the same in every
  * version; the other fields change between versions. Streamed vectors are
  * jittered copies of the half of the vectors the indexes were not built
  * from, under fresh ids above every base id. */
final class Batches(seed: Long, spec: StreamSpec, customers: IndexedSeq[Row],
                    nations: Map[Int, String], events: IndexedSeq[Row],
                    val baseVectors: IndexedSeq[(Long, Array[Float])],
                    heldOut: IndexedSeq[Array[Float]], firstNewId: Long) {
  private def rnd(b: Int, stream: Int) = new Random(seed * 1000003L + b * 31L + stream)

  def users(b: Int): Seq[Row] = {
    val r = rnd(b, 1)
    r.shuffle(customers.indices.toVector).take(spec.users).map { i =>
      val c = customers(i)
      val key = c.getLong(0)
      Row(s"u$key", c.getString(1), s"https://twitter.com/${c.getString(1)}",
        r.nextInt(1000), (key * 13 % 150).toInt, r.nextInt(50), r.nextInt(200),
        (key * 7919 % 150).toInt, (key * 31 % 100).toInt, r.nextBoolean(),
        if (r.nextDouble() < 0.1) null else nations.getOrElse(c.getInt(2), null),
        b.toLong)
    }
  }

  def tweets(b: Int): Seq[Row] = {
    val r = rnd(b, 2)
    val from = (b.toLong * spec.tweets % events.size).toInt
    (0 until spec.tweets).map { i =>
      val e = events((from + i) % events.size)
      val user = e.getLong(1)
      def maybe(v: Long): java.lang.Long = if (r.nextDouble() < 0.05) null else v
      Row(s"t${b}_$i", s"u$user", f"Customer#$user%09d",
        maybe((e.getDouble(2) * 10).toLong + r.nextInt(5)), maybe(r.nextInt(100).toLong),
        maybe(r.nextInt(20).toLong), maybe(r.nextInt(30).toLong), e.getLong(0))
    }
  }

  def vectors(b: Int): Seq[(Long, Array[Float])] = {
    val r = rnd(b, 3)
    (0 until spec.vectors).map { i =>
      val src = heldOut(r.nextInt(heldOut.size))
      val v = src.map(x => x + 0.05 * r.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      (firstNewId + b.toLong * spec.vectors + i, v.map(x => (x / n).toFloat))
    }
  }

  /** Text form of batch `b`, for the determinism self-test. */
  def dump(b: Int): String =
    (users(b).map(_.mkString("|")) ++ tweets(b).map(_.mkString("|")) ++
      vectors(b).map { case (id, v) => s"$id|${v.mkString(",")}" }).mkString("\n")
}

object Batches {
  def load(spark: SparkSession, dir: String, seed: Long, spec: StreamSpec): Batches = {
    val customers = Tables.load(spark, dir, "customer")
      .select("c_custkey", "c_name", "c_nationkey").orderBy("c_custkey")
      .collect().toIndexedSeq
    val nations = Tables.load(spark, dir, "nation").collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap
    // tweets are taken from events in id order; a run never gets through
    // more than this many
    val events = Tables.load(spark, dir, "events")
      .select(col("event_id"), col("user_id"), coalesce(col("value"), lit(0.0)))
      .orderBy("event_id").limit(spec.tweets * 64).collect().toIndexedSeq
    val vecs = Tables.load(spark, dir, "embeddings").orderBy("vec_id")
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toIndexedSeq
    val (base, held) = new Random(seed).shuffle(vecs).splitAt(vecs.size / 2)
    new Batches(seed, spec, customers, nations, events, base.sortBy(_._1),
      held.map(_._2), vecs.map(_._1).max + 1)
  }
}

/** `stream_ingest`: the speed and serving layers under a write load. Each
  * cycle sends one seed-generated micro-batch through five streaming
  * queries (users upsert, KOL insert-if-absent, tweet rollup, IVF append,
  * PQ append), with serving reads after each index append and after the
  * user writes. Set-up builds both indexes from a seeded half of the
  * vectors and runs one untimed warmup cycle. After the timed region the
  * Lambda invariants are checked against batch recomputation. */
object StreamIngest {
  private val vecSchema = StructType(Seq(
    StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType))))
  private val ingestTs = 1700000000L
  private val measures = Seq("views", "likes", "replyCounts", "retweetCounts")

  def run(h: Harness, spec: StreamSpec): Unit = {
    val spark = h.spark
    val w = h.args.work
    val data = Batches.load(spark, h.args.data, h.args.seed, spec)
    val dirs = Map("users" -> s"$w/state/users", "kol" -> s"$w/state/kol",
      "rollup" -> s"$w/state/rollup", "ivf" -> s"$w/state/ivf", "pq" -> s"$w/state/pq")
    val base = spark.createDataFrame(spark.sparkContext.parallelize(
      data.baseVectors.map { case (id, v) => Row(id, v.toSeq) }, 1), vecSchema)
    h.log("stream batches loaded")
    IvfIndex.build(base, "vec_id", "embedding", dirs("ivf"), nlist = spec.nlist)
    h.log("IVF index built")
    PqIndex.build(base, "vec_id", "embedding", dirs("pq"), m = spec.pqM, k = spec.pqK,
      coarseNlist = spec.nlist)
    h.log("PQ index built")

    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    def mem(schema: StructType) = MemoryStream[Row](Encoders.row(schema), sq)
    val usersIn = mem(Tables.usersSchema); val kolIn = mem(Tables.usersSchema)
    val tweetsIn = mem(Tables.tweetsSchema)
    val ivfIn = mem(vecSchema); val pqIn = mem(vecSchema)
    def start(name: String, df: DataFrame)(sink: (DataFrame, Long) => Unit): StreamingQuery =
      df.writeStream.queryName(name)
        .option("checkpointLocation", s"$w/checkpoints/$name")
        .foreachBatch(sink).start()
    h.tracer.foreach(_.clearPhase())
    val rollupIn = Pipelines.preprocessTweets(tweetsIn.toDF(), ingestTs).select(
      (col("author") +: lit(1L).as("total_tweets") +:
        measures.map(m => Functions.orZero(col(m)).as(s"total_$m"))) ++
        measures.map(m => Functions.orZero(col(m)).as(s"max_$m")): _*)
    val queries = Map(
      "users" -> start("users_upsert", Streaming.speedLayer(usersIn.toDF(), ingestTs))(
        Streaming.upsertLastWinsSink("_id", "timestamp", dirs("users"))),
      "kol" -> start("kol_insert",
        Pipelines.kolDetect(Streaming.speedLayer(kolIn.toDF(), ingestTs)))(
        Streaming.insertIfAbsentSink("_id", dirs("kol"))),
      "rollup" -> start("tweet_rollup", rollupIn)(Streaming.incrementalRollupSink(
        "author", "total_tweets" +: measures.map("total_" + _),
        measures.map("max_" + _), dirs("rollup"))),
      "ivf" -> start("ivf_append", ivfIn.toDF())(
        Streaming.ivfAppendSink("vec_id", "embedding", dirs("ivf"))),
      "pq" -> start("pq_append", pqIn.toDF())(
        Streaming.pqAppendSink("vec_id", "embedding", dirs("pq"))))

    val sentUsers = mutable.ArrayBuffer.empty[Row]
    val sentTweets = mutable.ArrayBuffer.empty[Row]
    val vectors = mutable.LinkedHashMap.empty[Long, Array[Float]]
    data.baseVectors.foreach { case (id, v) => vectors(id) = v }
    val probes = mutable.ArrayBuffer.empty[(Array[Long], Long, Long)] // result, anchor, max id
    val r = new Random(h.args.seed ^ 0x5eedL)

    type Runner = (String, String, String) => (=> Boolean) => Unit
    def batch(q: StreamingQuery, in: MemoryStream[Row], rows: Seq[Row]): Boolean = {
      in.addData(rows)
      q.processAllAvailable()
      h.tracer.foreach(t => awaitProgress(t, q))
      q.exception.isEmpty
    }
    def corpus = spark.read.parquet(s"${dirs("ivf")}/corpus").select("vec_id", "embedding")
    def cycle(b: Int, run: Runner): Unit = {
      val users = data.users(b); val tweets = data.tweets(b); val vecs = data.vectors(b)
      sentUsers ++= users; sentTweets ++= tweets; vecs.foreach { case (id, v) => vectors(id) = v }
      val vecRows = vecs.map { case (id, v) => Row(id, v.toSeq) }
      run("users_upsert", "streaming", "write")(batch(queries("users"), usersIn, users))
      run("kol_insert", "streaming", "write")(batch(queries("kol"), kolIn, users))
      run("tweet_rollup", "streaming", "write")(batch(queries("rollup"), tweetsIn, tweets))
      val lookup = users(r.nextInt(users.size)).getString(1)
      run("dashboard_top_kols", "dashboard", "read")(
        Dashboard.topKols(spark.read.parquet(dirs("kol")), 5).collect().length == 5)
      run("dashboard_user_lookup", "dashboard", "read")(
        Dashboard.userLookup(spark.read.parquet(dirs("users")), lookup).collect().length == 1)
      val maxId = vecs.last._1
      val ids = vectors.keysIterator.toIndexedSeq
      def anchor() = ids(r.nextInt(ids.size))
      run("ivf_append", "index", "write")(batch(queries("ivf"), ivfIn, vecRows))
      val a1 = anchor()
      run("ivf_probe", "index", "read") {
        val got = IvfIndex.topK(spark, dirs("ivf"), "vec_id", "embedding", a1, 10, spec.nprobe)
          .collect().map(_.getLong(0))
        probes += ((got, a1, maxId)); got.length == 10
      }
      run("pq_append", "index", "write")(batch(queries("pq"), pqIn, vecRows))
      val a2 = anchor()
      run("pq_probe", "index", "read") {
        val got = PqIndex.topKReranked(spark, dirs("pq"), corpus, "vec_id", "embedding",
          vectors(a2).map(_.toDouble), a2, 10, spec.shortlist, spec.nprobe)
          .collect().map(_.getLong(0))
        probes += ((got, a2, maxId)); got.length == 10
      }
    }

    h.log("streams started")
    cycle(0, (n, _, _) => body => { h.log(n); h.check(s"warmup $n")(body) })
    h.timed(spec.minPasses) { pass =>
      cycle(pass + 1, (n, l, k) => body => h.op(n, l, k, pass)(body))
    }
    h.log("timed region ends")
    queries.values.foreach(_.stop())
    h.tracer.foreach(_.clearPhase())

    // Lambda invariants: the speed layer's state equals batch recomputation
    val nVec = vectors.size.toLong
    h.check("rollup equals Pipelines.tweetRollup over every tweet") {
      val expected = Pipelines.tweetRollup(Pipelines.preprocessTweets(
        spark.createDataFrame(spark.sparkContext.parallelize(sentTweets.toSeq, 4),
          Tables.tweetsSchema), ingestTs))
      same(spark.read.parquet(dirs("rollup")).select(expected.columns.map(col): _*), expected)
    }
    val lastWins = sentUsers.zipWithIndex.groupBy(_._1.getString(0))
      .values.map(_.maxBy(_._2)._1).toSeq
    val expectedUsers = Streaming.speedLayer(spark.createDataFrame(
      spark.sparkContext.parallelize(lastWins, 4), Tables.usersSchema), ingestTs)
    h.check("upserted users equal last-wins over all batches") {
      same(spark.read.parquet(dirs("users")).select(expectedUsers.columns.map(col): _*),
        expectedUsers)
    }
    h.check("KOL set equals Pipelines.kolDetect over the final users") {
      same(spark.read.parquet(dirs("kol")).select("_id"),
        Pipelines.kolDetect(spark.read.parquet(dirs("users"))).select("_id"))
    }
    h.check("IVF corpus holds every vector sent") {
      spark.read.parquet(s"${dirs("ivf")}/corpus").count() == nVec
    }
    h.check("PQ codes hold every vector sent") {
      spark.read.parquet(s"${dirs("pq")}/codes").count() == nVec
    }
    h.check("IVF full-probe recall is 1.0") {
      IvfIndex.maintenanceAudit(spark, dirs("ivf"), "vec_id", "embedding", k = 10,
        nprobe = spec.nlist, anchors = 1).head().getDouble(3) == 1.0
    }
    h.check("PQ full-probe recall is 1.0") {
      PqIndex.maintenanceAudit(spark, dirs("pq"), corpus, "vec_id", "embedding", k = 10,
        nprobe = spec.nlist, shortlist = nVec.toInt, anchors = 1).head().getDouble(3) == 1.0
    }

    h.log("checks done")
    val recall = probes.map { case (got, a, maxId) =>
      val q = vectors(a)
      val exact = vectors.iterator.filter { case (id, _) => id != a && id <= maxId }
        .map { case (id, v) => (-cosine(q, v), id) }.toSeq.sorted.take(10).map(_._2).toSet
      got.count(exact).toDouble / exact.size
    }
    h.extra("index.recall_at_10") = recall.sum / math.max(1, recall.size)
    val stateDirs = Seq(dirs("users"), dirs("kol"), dirs("rollup"))
    h.extra("streaming.state_rows") =
      stateDirs.map(d => spark.read.parquet(d).count()).sum.toDouble
    h.extra("streaming.state_bytes") = stateDirs.map(d => du(new java.io.File(d))).sum.toDouble
    h.extra("rows_per_pass") = (spec.users + spec.tweets + spec.vectors).toDouble
  }

  private def same(a: DataFrame, b: DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  private def cosine(a: Array[Float], b: Array[Float]): Double = {
    var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    d / math.sqrt(na * nb)
  }

  private def du(f: java.io.File): Long =
    if (f.isFile) f.length else Option(f.listFiles).map(_.map(du).sum).getOrElse(0L)

  /** Wait until the batch's progress event has reached the tracer; it is
    * posted after `processAllAvailable` may already have returned. */
  private def awaitProgress(t: Tracer, q: StreamingQuery): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    t.drain()
    while (t.progressCount(q.id.toString) == 0 && System.nanoTime() < deadline) {
      Thread.`yield`(); t.drain()
    }
  }
}
