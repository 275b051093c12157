package org.apache.spark {
  /** Access to the listener bus's drain, which Spark keeps package-private. */
  object PerfbenchBus {
    def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
  }
}

package graft.perfbench {

  import java.nio.charset.StandardCharsets
  import java.nio.file.{Files, Paths}

  import scala.collection.mutable

  import org.apache.spark.sql.SparkSession

  import graft.SparkEntry

  /**
   * The torch layer measured alone: the kernels called directly on one
   * thread with a seeded fixed batch, on the same models the
   * `torch_infer` ops run (SparkEntry's model definitions).
   */
  object Kernels {
    final case class Call(name: String, rows: Long, wallMs: Double)
    final case class Result(forwardRowsPerS: Double, decodeTokensPerS: Double, calls: Seq[Call])

    private val BatchRows = 256
    private val Rounds = 5
    // warm-up per kernel: in the sql_mix and dedup_ann JVMs the torch code
    // has not run before, and one warm call left it 4-8x slower than in
    // the torch_infer JVM
    private val WarmNs = 1000L * 1000 * 1000

    private def warm(body: => Unit): Unit = {
      val end = System.nanoTime() + WarmNs
      while ({ body; System.nanoTime() < end }) ()
    }

    def measure(seed: Long): Result = {
      val rng = new scala.util.Random(seed)
      // 4 to 12 tokens a row: within every model's position table, and
      // long enough for the textcnn's widest convolution
      def tokenBatch(vocab: Int): Array[Array[Int]] =
        Array.fill(BatchRows)(Array.fill(4 + rng.nextInt(9))(rng.nextInt(vocab)))
      val forward = Seq(
        "embed_class" -> SparkEntry.embedClassModel,
        "textcnn" -> SparkEntry.textCnnModel,
        "encoder" -> SparkEntry.encModel)
      val calls = mutable.ArrayBuffer.empty[Call]
      forward.foreach { case (name, m) =>
        val vocab = m.embedHead.map(_.vocab).orElse(m.seqHead.map(_.vocab)).get
        val batch = tokenBatch(vocab)
        warm(m.forwardTokensBatch(batch))
        (0 until Rounds).foreach { _ =>
          val t0 = System.nanoTime()
          m.forwardTokensBatch(batch)
          calls += Call(s"forwardTokensBatch:$name", BatchRows, (System.nanoTime() - t0) / 1e6)
        }
      }
      val gen = SparkEntry.genModel
      val vocab = gen.seqHead.get.vocab
      val prompts = tokenBatch(vocab)
      val steps = 3
      def decodeAll(): Unit = prompts.foreach { p =>
        val sess = gen.decodeSession(p)
        var i = 0
        while (i < steps) {
          val lg = sess.logits()
          var best = 0
          var j = 1
          while (j < lg.length) { if (lg(j) > lg(best)) best = j; j += 1 }
          sess.append(best)
          i += 1
        }
      }
      warm(decodeAll())
      (0 until Rounds).foreach { _ =>
        val t0 = System.nanoTime()
        decodeAll()
        calls += Call("decodeSession:gen", BatchRows.toLong * steps, (System.nanoTime() - t0) / 1e6)
      }
      def rate(prefix: String): Double = {
        val cs = calls.filter(_.name.startsWith(prefix))
        // per model, the median round; then rows over summed wall
        val perModel = cs.groupBy(_.name).values.map { rs =>
          val w = rs.map(_.wallMs).sorted
          (rs.head.rows, w(w.size / 2))
        }
        perModel.map(_._1).sum / (perModel.map(_._2).sum / 1000.0)
      }
      Result(rate("forwardTokensBatch"), rate("decodeSession"), calls.toSeq)
    }
  }

  /**
   * The DuckDB side of the output check. It needs `SparkEntry.oracleSql`,
   * which is built as one map: when that cannot be built, every op
   * reports the oracle check as skipped (with the reason), never as
   * passed. When it can, each query op with an oracle entry gets its
   * output written in the layout `graft.Verify` writes (`<dir>/<name>/`
   * parquet plus `<dir>/oracle_sql.json`), and perfbench/run.py runs
   * tools/oracle_check.py over it.
   */
  object Oracle {
    def prepare(spark: SparkSession, dataDir: String, outDir: String,
        ops: Seq[Harness.Op]): Map[String, String] = {
      val sqls = try Right(SparkEntry.oracleSql) catch {
        case e: Throwable => Left(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).linesIterator.nextOption().getOrElse("")}")
      }
      sqls match {
        case Left(why) => ops.map(o => o.id -> s"skipped: SparkEntry.oracleSql cannot be built ($why)").toMap
        case Right(m) =>
          val dir = Paths.get(outDir, "oracle")
          val checked = ops.filter(o => o.kind == "query" && m.contains(o.name))
          checked.foreach { o =>
            SparkEntry.queries(o.name)(spark, dataDir).coalesce(1).write.mode("overwrite")
              .parquet(dir.resolve(o.name).toString)
          }
          Files.createDirectories(dir)
          Files.write(dir.resolve("oracle_sql.json"), checked
            .map(o => s"${Json.str(o.name)}: ${Json.str(m(o.name))}").mkString("{", ", ", "}")
            .getBytes(StandardCharsets.UTF_8))
          ops.map(o => o.id -> (if (checked.contains(o)) "pending" else "skipped: no oracle SQL for this op")).toMap
      }
    }
  }
}
