package perfbench

import org.apache.spark.sql.{Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.job.Transcripts
import graft.model.Turn

/** Seeded transcript input of the extract workload. Generation runs before
  * any timer starts, and the same seed always gives the same rows. The
  * query workload reads fixed reference tables instead (`perfbench/tables`).
  *
  * Inputs carry no nulls. A null `text` or `ts` fails the whole extraction
  * job today, so a null-row workload waits until the job tolerates them.
  */
object Inputs {

  /** Regular conversations in the extract input. */
  val Convs = 2000
  /** Turns in the one mega-conversation that loads the ordering window. */
  val MegaTurns = 500
  /** Turn counts cycle through this pattern by conversation number. It is
    * the library generator's pattern, so `Transcripts.expectedCount` gives
    * the regular turn total. */
  private val sizes = Array(2, 3, 4, 6, 8, 8, 8, 12, 16, 24, 40)
  /** Seeds move conversation numbers in steps of this span. It is a
    * multiple of the pattern length, so every seed has the same turn
    * count, and larger than `Convs`, so seeds never share a conversation. */
  private val SeedSpan = 11L * 1000
  /** Bounds the offset so timestamps stay within four-digit years. */
  private val SeedSlots = 1000L

  val ExpectedTurns: Long = Transcripts.expectedCount(Convs) + MegaTurns

  /** Transcript turns for one seed, built by `Transcripts.mkTurn`, so the
    * seed changes the payload, role and tool mix at a fixed size. */
  def transcripts(spark: SparkSession, seed: Long): Dataset[Turn] = {
    import spark.implicits._
    val base = Math.floorMod(seed, SeedSlots) * SeedSpan
    val regular = spark.range(Convs)
      .select(($"id" + base).as("c"), explode(sequence(lit(0),
        element_at(typedLit(sizes), (pmod($"id", lit(sizes.length)) + 1).cast("int")) - 1))
        .as("t"))
      .as[(Long, Int)]
      .map { case (c, t) => Transcripts.mkTurn(c, t, "conv-") }
    val mega = spark.range(MegaTurns)
      .as[Long]
      .map(t => Transcripts.mkTurn(base, t.toInt, "mega-"))
    regular.unionAll(mega)
  }

  /** Writes one seed's transcripts as parquet and returns the input bytes. */
  def writeTranscripts(spark: SparkSession, seed: Long, path: String): Long = {
    transcripts(spark, seed).repartition(16).write.mode(SaveMode.Overwrite).parquet(path)
    Files.dataBytes(path)
  }
}
