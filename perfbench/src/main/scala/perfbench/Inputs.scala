package perfbench

import java.sql.Timestamp

import graft.extract.Gazetteer
import graft.model.Triple
import graft.source.TranscriptGen
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One transcript row as the benchmark writes it: TranscriptGen's turn plus
  * the `version` column that `RunConfig.inputVersionCol` reads.
  */
final case class BenchTurn(conv_id: String, turn_idx: Int, role: String, text: String,
    tool: Option[String], ts: Timestamp, version: Long)

/** A seeded change to one conversation: one turn appended or one turn edited,
  * and the conversation's version bumped.
  */
final case class Change(convIdx: Long, turnIdx: Int, appended: Boolean, text: String)

/** Everything a run derives from `--seed`. The program only ever sees the
  * Parquet tables and HTTP requests built from these.
  */
final class Inputs(seed: Long, numConvs: Int) {
  private val rnd = new java.util.SplittableRandom(seed)

  /** Conversation 0 (20x long, hot company) plus a seeded window of
    * `numConvs - 1` consecutive indices.
    */
  val window: Seq[Long] = {
    val start = 1L + rnd.nextLong(900000L)
    0L +: (start until start + numConvs - 1)
  }

  private lazy val golden: Map[Long, Seq[TranscriptGen.GoldenTurn]] =
    window.map(i => i -> TranscriptGen.conversation(i)).toMap

  def convId(i: Long): String = golden(i).head.turn.conv_id

  val baseRows: Seq[BenchTurn] = window.flatMap(golden(_)).map { g =>
    val t = g.turn
    BenchTurn(t.conv_id, t.turn_idx, t.role, t.text, t.tool, t.ts, 1L)
  }

  /** Golden (subj, pred, obj) set of the base table, for triple P/R. */
  lazy val goldenTriples: Set[Triple] = window.flatMap(golden(_)).flatMap(_.triples).toSet

  /** Golden relation instances per conversation (the BASELINE throughput
    * numerator counts instances, not distinct triples).
    */
  def relationInstances(convs: Iterable[Long]): Long =
    convs.iterator.map(i => golden(i).map(_.triples.size.toLong).sum).sum

  private def canonical(groups: Seq[Seq[String]]): String =
    groups(rnd.nextInt(groups.size)).head

  /** Up to 8 distinct conversations, each with one appended or edited turn. */
  val changes: Seq[Change] = {
    val picked = scala.collection.mutable.LinkedHashSet[Long]()
    while (picked.size < 8) picked += window(rnd.nextInt(window.size))
    picked.toSeq.map { i =>
      val n = golden(i).size
      val appended = rnd.nextBoolean()
      val text = s"${canonical(Gazetteer.persons)} founded ${canonical(Gazetteer.companies)} " +
        s"in ${1990 + rnd.nextInt(35)}."
      Change(i, if (appended) n else 1 + rnd.nextInt(n - 1), appended, text)
    }
  }

  val changedConvIds: Set[String] = changes.map(c => convId(c.convIdx)).toSet

  val deltaRows: Seq[BenchTurn] = {
    val byConv = changes.map(c => convId(c.convIdx) -> c).toMap
    val edited = baseRows.map { r =>
      byConv.get(r.conv_id) match {
        case Some(c) if !c.appended && c.turnIdx == r.turn_idx =>
          r.copy(text = c.text, version = 2L)
        case Some(_) => r.copy(version = 2L)
        case None => r
      }
    }
    val appended = changes.filter(_.appended).map { c =>
      val last = golden(c.convIdx).last.turn
      BenchTurn(last.conv_id, c.turnIdx, if (c.turnIdx % 2 == 1) "user" else "assistant",
        c.text, None, new Timestamp(last.ts.getTime + 60000L), 2L)
    }
    edited ++ appended
  }

  /** Distinct questions: three gazetteer-name templates and one that matches
    * no entity; the request sequence draws from them.
    */
  val questions: Seq[String] = Seq(
    s"Who founded ${canonical(Gazetteer.companies)}?",
    s"What did ${canonical(Gazetteer.companies)} launch?",
    s"Which company did ${canonical(Gazetteer.persons)} join?",
    Seq("zebra", "quantum", "xylophone", "marmalade", "nebula", "origami")
      .map(w => (w, rnd.nextInt())).sortBy(_._2).take(3).map(_._1).mkString(" "))

  /** Seeded question sequence for the load phases: 3 in 4 name questions. */
  def questionSequence(n: Int): IndexedSeq[String] =
    IndexedSeq.fill(n)(if (rnd.nextInt(4) == 3) questions(3) else questions(rnd.nextInt(3)))
}

object Inputs {
  def write(spark: SparkSession, rows: Seq[BenchTurn], dir: String,
      versioned: Boolean = true): DataFrame = {
    import spark.implicits._
    val ds = spark.createDataset(rows).toDF()
    (if (versioned) ds else ds.drop("version")).write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }
}
