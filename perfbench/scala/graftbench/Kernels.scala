package graftbench

import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.ext.Multimodal

/** The kernel sweep of the traced run: each SQL kernel registered by
  * `GraftExtensions.register` evaluated over a materialised batch built from
  * the workload seed. A batch is a few thousand distinct inputs replicated so
  * that one evaluation runs well past Spark's per-job overhead; rows/s then
  * measures the kernel, not the scheduler. */
object Kernels {
  val DistinctText = 2000
  val TextCopies = 15
  val DistinctVectors = 2000
  val VectorCopies = 25
  val MediaRows = 1500
  val Reps = 3

  /** (kernel, view, SQL expression over that view). */
  val Sweep: Seq[(String, String, String)] = Seq(
    ("graft_dot", "kb_vec", "graft_dot(embedding, embedding)"),
    ("graft_hyperplane_lsh", "kb_vec", "graft_hyperplane_lsh(embedding, 16, 4)"),
    ("graft_simhash64", "kb_text", "graft_simhash64(tok)"),
    ("graft_minhash", "kb_text", "graft_minhash(sh, 64)"),
    ("graft_shingle_hashes", "kb_text", "graft_shingle_hashes(text, 5)"),
    ("graft_lang_id", "kb_text", "graft_lang_id(text)"),
    ("graft_text_metrics", "kb_text", "graft_text_metrics(text)"),
    ("graft_media_header", "kb_media", "graft_media_header(payload)"),
    ("graft_image_dhash", "kb_image", "graft_image_dhash(payload)"),
    ("graft_image_spectral", "kb_image", "graft_image_spectral(payload)"),
    ("graft_audio_spectral", "kb_audio", "graft_audio_spectral(payload)"))

  private def replicate(spark: SparkSession, schema: StructType, rows: Seq[Row],
      copies: Int): DataFrame = {
    val n = rows.size.toLong
    val all = (0 until copies).flatMap(c => rows.map(r =>
      Row.fromSeq((r.getLong(0) + c * n) +: r.toSeq.tail)))
    DataGen.frame(spark, schema, all)
  }

  /** Runs the sweep and returns {kernel: {"rows": n, "seconds": [...]}}. */
  def sweep(spark: SparkSession, seed: Long, rec: Recorder): String = {
    val r = new SplittableRandom(seed)
    val fullDocs = DataGen.documents(r, DistinctText)
    val docs = fullDocs.map(d => Row(d.getLong(0), d.getString(1)))
    val docSchema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType)))
    val text = replicate(spark, docSchema, docs, TextCopies)
      .selectExpr("doc_id", "text", "split(text, ' ') AS tok", "graft_shingle_hashes(text, 5) AS sh")
    val vecSchema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    val vec = replicate(spark, vecSchema,
      (0 until DistinctVectors).map(i => Row(i.toLong, DataGen.unitVector(r, 64))), VectorCopies)
    val mediaDocs = DataGen.frame(spark, DataGen.documentsSchema, fullDocs.take(MediaRows))
    val views = Seq(
      "kb_text" -> text, "kb_vec" -> vec,
      "kb_media" -> Multimodal.syntheticMedia(mediaDocs).select("payload"),
      "kb_image" -> Multimodal.syntheticImages(mediaDocs).select("payload"),
      "kb_audio" -> Multimodal.syntheticAudio(mediaDocs).select("payload"))
    val sizes = views.map { case (name, df) =>
      val cached = df.where(col(df.columns.last).isNotNull).persist()
      cached.createOrReplaceTempView(name)
      name -> (cached, cached.count())
    }.toMap
    val out = Sweep.map { case (kernel, view, expr) =>
      val q = s"SELECT sum(hash($expr)) FROM $view"
      val secs = (1 to Reps).map { _ =>
        val t0 = System.nanoTime()
        rec.span(kernel, "kernel")(spark.sql(q).collect())
        (System.nanoTime() - t0) / 1e9
      }
      kernel -> Json.obj("rows" -> sizes(view)._2.toString,
        "seconds" -> Json.arr(secs.map(Json.num)))
    }
    sizes.values.foreach(_._1.unpersist())
    Json.obj(out: _*)
  }
}
