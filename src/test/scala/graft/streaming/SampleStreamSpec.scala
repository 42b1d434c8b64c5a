package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** Streaming stratified sampler: settled samples equal batch q57
  * bit-for-bit after every prefix, micro-batch boundaries don't
  * matter, and batches that displace nothing stay silent. */
class SampleStreamSpec extends SparkSpec {

  import SampleStream.{Doc, Sample}
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  private def corpus: Seq[Doc] =
    spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("lang")).as[(Long, String)].collect()
      .sortBy(_._1).map { case (id, l) => Doc(id, l) }.toSeq

  /** Reference: q57's semantics on an arbitrary doc set. */
  private def batchSample(docs: Seq[Doc]): Map[String, Seq[Long]] =
    docs.groupBy(_.lang).map { case (lang, ds) =>
      lang -> ds.map(d => SampleStream.pri(d.doc_id)).distinct
        .sorted.take(SampleStream.K).map(_._2)
    }

  /** Latest emission per lang after the stream settles. */
  private def runStream(batches: Seq[Seq[Doc]], name: String,
      check: (Seq[Doc], Map[String, Seq[Long]]) => Unit): Unit = {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Doc]
    val query = SampleStream.samples(spark, input.toDS())
      .writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append()).start()
    try {
      var seen = Seq.empty[Doc]
      batches.foreach { b =>
        input.addData(b); query.processAllAvailable()
        seen = seen ++ b
        // "latest" = the last row per lang in emission order
        val df = spark.table(name)
          .withColumn("ord", monotonically_increasing_id())
        val latest = df.as[(String, Seq[Long], Long)].collect()
          .groupBy(_._1).map { case (l, xs) => l -> xs.maxBy(_._3)._2 }
        check(seen, latest)
      }
    } finally query.stop()
  }

  test("settled samples equal batch q57 semantics after every prefix") {
    val docs = corpus
    val batches = Seq(docs.take(7), docs.slice(7, 20), docs.drop(20))
    runStream(batches, "ps_prefix", { (seen, latest) =>
      val want = batchSample(seen)
      assert(latest.keySet === want.keySet)
      want.foreach { case (lang, ids) =>
        assert(latest(lang) === ids, s"lang $lang after ${seen.length} docs")
      }
    })
  }

  test("micro-batch boundaries don't change the settled sample") {
    val docs = corpus
    def settled(batches: Seq[Seq[Doc]], name: String): Map[String, Seq[Long]] = {
      var out = Map.empty[String, Seq[Long]]
      runStream(batches, name, (_, latest) => out = latest)
      out
    }
    val one = settled(Seq(docs), "ps_one")
    val many = settled(docs.grouped(11).toSeq, "ps_many")
    assert(one === many)
  }

  test("a batch that displaces nothing emits nothing; re-ingest is idempotent") {
    val docs = corpus
    val en = docs.filter(_.lang == "en")
    assert(en.length > SampleStream.K, "test needs an overfull stratum")
    val sample = batchSample(en)("en").toSet
    val losers = en.filterNot(d => sample.contains(d.doc_id))
    assert(losers.nonEmpty)
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Doc]
    val query = SampleStream.samples(spark, input.toDS())
      .writeStream.format("memory").queryName("ps_silent")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(en); query.processAllAvailable()
      val n1 = spark.table("ps_silent").count()
      // losers can't displace anyone; winners are already present
      input.addData(losers ++ en.take(3)); query.processAllAvailable()
      val n2 = spark.table("ps_silent").count()
      assert(n1 === n2, "silent batch must not emit")
    } finally query.stop()
  }
}
