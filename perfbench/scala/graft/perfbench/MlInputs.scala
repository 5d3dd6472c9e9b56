package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.util.Random

/** The reference CSVs that the ml_fit members read, generated from the run
  * seed with the schemas, sizes and dirt recorded in FIXTURES.md (A2, A3).
  */
final case class MlInputs(knowledge: String, spam: String)

object MlInputs {

  def generate(dir: Path, seed: Long): MlInputs = {
    Files.createDirectories(dir)
    val rnd = new Random(seed)
    def write(name: String, lines: Seq[String]): String = {
      val p = dir.resolve(name)
      Files.write(p, lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
      p.toString
    }
    MlInputs(
      write("user_know_modeling_dataset_train.csv", knowledge(rnd)),
      write("spam.csv", spam(rnd)))
  }

  private def f2(x: Double): String = "%.2f".formatLocal(java.util.Locale.ROOT, x)
  private def clamp(x: Double, lo: Double, hi: Double): Double = math.max(lo, math.min(hi, x))

  /** A2: 402 clean rows; the label follows the SAP/SEP scores. */
  private def knowledge(rnd: Random): Seq[String] = {
    val labels = rnd.shuffle(
      Seq.fill(102)("High") ++ Seq.fill(129)("Low") ++ Seq.fill(122)("Middle") ++
        Seq.fill(49)("very_low"))
    val centre = Map("very_low" -> 0.12, "Low" -> 0.33, "Middle" -> 0.56, "High" -> 0.8)
    def score(c: Double) = f2(clamp(c + rnd.nextGaussian() * 0.07, 0.0, 0.99))
    def noise() = f2(rnd.nextDouble() * 0.99)
    "SST,SRT,SAT,SAP,SEP,SKL" +: labels.map { l =>
      Seq(noise(), noise(), noise(), score(centre(l)), score(centre(l)), l).mkString(",")
    }
  }

  private val hamWords = Vector("ok", "see", "you", "later", "home", "dinner", "tonight", "love",
    "going", "now", "sorry", "call", "when", "get", "there", "what", "time", "the", "a", "is",
    "and", "lunch", "meeting", "tomorrow", "yes", "no", "will", "come", "back", "soon")
  private val spamWords = Vector("free", "win", "prize", "claim", "cash", "urgent", "txt",
    "reply", "stop", "award", "guaranteed", "mobile", "offer", "winner", "entry", "now")

  /** A3: header `v1,v2,,,` (three unnamed ragged columns), ham:4694,
    * spam:699 and 41 label-less continuation lines; some messages are
    * quoted because they contain commas.
    */
  private def spam(rnd: Random): Seq[String] = {
    def message(words: Vector[String], k: Int): String = {
      val w = Seq.fill(k)(words(rnd.nextInt(words.size)))
      if (rnd.nextInt(5) == 0) "\"" + w.mkString(", ") + "\"" else w.mkString(" ")
    }
    val ham = Seq.fill(4694)(() => "ham," + message(hamWords, 4 + rnd.nextInt(12)) + ",,,")
    val spm = Seq.fill(699)(() => "spam," +
      message(spamWords ++ hamWords.take(10), 6 + rnd.nextInt(14)) + ",,,")
    val cont = Seq.fill(41)(() => "," + message(hamWords, 2 + rnd.nextInt(4)) + ",,,")
    "v1,v2,,," +: rnd.shuffle(ham ++ spm ++ cont).map(_())
  }
}
