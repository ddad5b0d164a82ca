package perfbench

import scala.util.Random
import scala.util.control.NonFatal

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** A member of a query workload: registry name and committed result
  * fingerprint. */
final case class Member(name: String, fingerprint: String)

object Fingerprint {
  /** Order-insensitive fingerprint of a result: row count and the sum of a
    * 64-bit hash of each row's JSON form, columns sorted by name (the
    * column order the DuckDB oracle compare uses). */
  def of(df: DataFrame): String = {
    val cols = df.columns.sorted.map(c => col(s"`${c.replace("`", "``")}`"))
    val r = df.select(xxhash64(to_json(struct(cols.toIndexedSeq: _*))).as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)")))
      .head()
    s"${r.getLong(0)}:${Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0")}"
  }
}

/** `queries_lazy`: a fixed list of oracle-gated registry
  * queries over the read-only tables, each op one query run (construction
  * plus a `noop` write). The seed sets the order of every pass. Set-up runs
  * each member once, untimed, and compares its result fingerprint with
  * the committed one, then runs one untimed warmup pass: on a fresh JVM
  * the first pass is about 1.5x slower than the ones after it. */
object QueryWorkload {
  def run(h: Harness, members: Seq[Member], minPasses: Int): Unit = {
    val registry = graft.SparkEntry.queries
    val dir = h.args.data
    members.foreach { m =>
      h.check(s"fingerprint ${m.name}") {
        val got = Fingerprint.of(registry(m.name)(h.spark, dir))
        if (got != m.fingerprint)
          System.err.println(s"[perfbench] ${m.name}: fingerprint $got != ${m.fingerprint}")
        got == m.fingerprint
      }
    }
    members.foreach(m => registry(m.name)(h.spark, dir).write.format("noop").mode("overwrite").save())
    h.timed(minPasses) { pass =>
      new Random(h.args.seed * 1000003L + pass).shuffle(members).foreach { m =>
        h.queryOp(m.name, pass)(registry(m.name)(h.spark, dir))
      }
    }
  }

  /** Layer census: every registry query once, traced, after an untimed
    * fingerprint run. Emits one JSON row per query as it finishes. */
  def census(h: Harness, emit: String => Unit): Unit = {
    val oracle = graft.SparkEntry.oracleSql.keySet
    graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val fp = try Right(Fingerprint.of(fn(h.spark, h.args.data)))
        catch { case NonFatal(e) => Left(e.toString.take(300)) }
      h.queryOp(name, 0)(fn(h.spark, h.args.data))
      val op = h.ops.last
      val c = h.counts.last
      emit(Json.obj(Seq(
        "query" -> Json.str(name),
        "oracle" -> oracle(name).toString,
        "fingerprint" -> fp.fold(_ => "null", Json.str),
        "error" -> fp.fold(Json.str, _ => if (op.ok) "null" else Json.str("execution failed")),
        "latency_s" -> Json.num(op.latencyS),
        "counts" -> Tracer.countsJson(op, c))))
    }
  }
}
