package perfbench

import java.sql.Timestamp

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.Row

/** Seeded generators. Everything the program receives is derived from
  * the seed; the expected outputs are derived here from the same seed,
  * never read back from the program. */
object Mix {
  def mix64(x0: Long): Long = {
    var x = x0
    x = (x ^ (x >>> 33)) * 0xff51afd7ed558ccdL
    x = (x ^ (x >>> 33)) * 0xc4ceb9fe1a85ec53L
    x ^ (x >>> 33)
  }
  /** Non-negative hash of (seed, key, salt). */
  def h(seed: Long, key: Long, salt: Int): Long =
    mix64(seed * 0x9E3779B97F4A7C15L + key * 0x632BE59BD9B4E019L + salt) &
      Long.MaxValue
  def unit(seed: Long, key: Long, salt: Int): Double =
    (h(seed, key, salt) >>> 11) / (1L << 52).toDouble
}

/** One repository in the flat 14-column shape of `RepoSchema.flat`;
  * times are epoch seconds. A null description or language is a planted
  * NOT-NULL violation. */
final case class Repo(id: Long, name: String, fullName: String,
    htmlUrl: String, description: String, stars: Long, language: String,
    createdAt: Long, updatedAt: Long, ownerLogin: String, ownerId: Long,
    ownerType: String, avatarUrl: String, ownerUrl: String) {

  def valid: Boolean = description != null && language != null

  def toRow: Row = Row(id, name, fullName, htmlUrl, description, stars,
    language, new Timestamp(createdAt * 1000), new Timestamp(updatedAt * 1000),
    ownerLogin, ownerId, ownerType, avatarUrl, ownerUrl)

  private def q(s: String) = if (s == null) "null" else "\"" + s + "\""
  private def iso(t: Long) = java.time.Instant.ofEpochSecond(t).toString

  /** The detail API's JSON record (the raw shape `RepoSchema.raw`). */
  def detailJson: String =
    s"""{"id":$id,"name":${q(name)},"full_name":${q(fullName)},""" +
      s""""html_url":${q(htmlUrl)},"description":${q(description)},""" +
      s""""stargazers_count":$stars,"language":${q(language)},""" +
      s""""created_at":"${iso(createdAt)}","updated_at":"${iso(updatedAt)}",""" +
      s""""owner":{"login":${q(ownerLogin)},"id":$ownerId,""" +
      s""""type":${q(ownerType)},"avatar_url":${q(avatarUrl)},""" +
      s""""html_url":${q(ownerUrl)}}}"""

  /** The list endpoint's summary record: no stars, language or times. */
  def summaryJson: String =
    s"""{"id":$id,"name":${q(name)},"full_name":${q(fullName)},""" +
      s""""html_url":${q(htmlUrl)},"description":${q(description)},""" +
      s""""owner":{"login":${q(ownerLogin)},"id":$ownerId,""" +
      s""""type":${q(ownerType)},"avatar_url":${q(avatarUrl)},""" +
      s""""html_url":${q(ownerUrl)}}}"""

  /** Canonical text of the row, for order-independent checksums. */
  def canon: String = Seq(id, name, fullName, htmlUrl, description, stars,
    language, createdAt, updatedAt, ownerLogin, ownerId, ownerType,
    avatarUrl, ownerUrl).mkString("|")
}

object Repo {
  /** The canonical text of a row read back from the table. */
  def canonOf(r: Row): String = {
    def ts(i: Int) = r.getTimestamp(i).getTime / 1000
    Seq(r.getLong(0), r.getString(1), r.getString(2), r.getString(3),
      r.getString(4), r.getLong(5), r.getString(6), ts(7), ts(8),
      r.getString(9), r.getLong(10), r.getString(11), r.getString(12),
      r.getString(13)).mkString("|")
  }
  def checksum(canons: Iterator[String]): Long =
    canons.foldLeft(0L)((acc, c) =>
      acc + Mix.mix64(scala.util.hashing.MurmurHash3.stringHash(c).toLong))
}

/** Repository fixtures for the ingest path. Batch i holds the list ids
  * j in [initialRows + i*batchRows, initialRows + (i+1)*batchRows);
  * ids ascend with gaps, like GitHub's. Planted per id, at assumed rates
  * (the reference publishes none): 1 in 23 detail requests answer 404,
  * 1 in 13 records carry a null description or language, and 3 in 10 (of
  * the non-404 ids) are already in the bronze cache before the run
  * starts. */
final class RepoGen(seed: Long, val initialRows: Int, val batchRows: Int,
    val refreshRows: Int) {
  val languages: Vector[String] = Vector("Python", "JavaScript", "Java",
    "Go", "Rust", "TypeScript", "C++", "Scala", "Ruby", "Kotlin", "Swift",
    "Haskell")
  /** Language popularity ~ 1/(rank+1). */
  private val langCum: Vector[Double] = {
    val w = languages.indices.map(i => 1.0 / (i + 1))
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toVector
  }
  private def langAt(u: Double): String =
    languages(langCum.indexWhere(_ >= u) max 0)

  val t0: Long = 1704067200L // 2024-01-01T00:00:00Z
  /** Logical time of batch i's refreshes: after every id it lists. */
  def batchTime(i: Int): Long = t0 + 60L * (initialRows + (i + 1) * batchRows) + 3600

  def idAt(j: Int): Long = 1000000L + j.toLong * 3 + (Mix.h(seed, j, 0) & 1)
  /** Ids of the form 1000000 + 3j + 2 are never generated. */
  def absentId(j: Int): Long = 1000000L + j.toLong * 3 + 2

  /** The last id of each batch always resolves, so the committed
    * keyset cursor lands exactly on the batch's last listed id. */
  def is404(id: Long): Boolean = {
    val j = ((id - 1000000L) / 3).toInt
    val lastOfBatch = j >= initialRows && (j - initialRows + 1) % batchRows == 0
    !lastOfBatch && Mix.h(seed, id, 1) % 23 == 0
  }
  def inBronze(id: Long): Boolean =
    !is404(id) && Mix.h(seed, id, 3) % 10 < 3

  /** The record the detail API serves for `id` (before any refresh). */
  def repo(id: Long): Repo = {
    val invalid = Mix.h(seed, id, 2) % 13 == 0
    val nullDescription = invalid && Mix.h(seed, id, 6) % 2 == 0
    val owner = s"user${Mix.h(seed, id, 7) % 5000}"
    val name = s"repo-$id"
    // ids are handed out in creation order, one repository a minute
    val created = t0 + (id - 1000000L) / 3 * 60
    Repo(id, name, s"$owner/$name", s"https://github.com/$owner/$name",
      if (nullDescription) null else s"project $id tool for things",
      math.exp(Mix.unit(seed, id, 4) * 10).toLong,
      if (invalid && !nullDescription) null
      else langAt(Mix.unit(seed, id, 5)),
      created, created + Mix.h(seed, id, 9) % 3600L, owner,
      1000L + Mix.h(seed, id, 7) % 5000, "User",
      s"https://avatars.example/$owner", s"https://github.com/$owner")
  }

  /** The initial snapshot's rows: earlier history, all valid. */
  def initialRepos: Seq[Repo] = (0 until initialRows).map { j =>
    val r = repo(idAt(j))
    r.copy(description = Option(r.description).getOrElse("seeded"),
      language = Option(r.language).getOrElse(languages(0)))
  }

  def batchIds(i: Int): Seq[Long] =
    (initialRows + i * batchRows until initialRows + (i + 1) * batchRows)
      .map(idAt)
}

/** The expected latest state of the keyed table, kept by the benchmark
  * alongside the program, plus the planted refreshes. */
final class RepoState(gen: RepoGen, seed: Long) {
  val rows = mutable.LongMap.empty[Repo]
  val ids = mutable.ArrayBuffer.empty[Long]
  private val rng = new Random(seed * 31 + 7)

  def load(rs: Seq[Repo]): Unit = rs.foreach(put)
  def put(r: Repo): Unit = {
    if (!rows.contains(r.id)) ids += r.id
    rows(r.id) = r
  }

  /** `refreshRows` distinct earlier ids whose stars (and, 1 time in 5,
    * language) changed, stamped with the batch's logical time. */
  def refreshes(batch: Int): Seq[Repo] = {
    val picked = mutable.LinkedHashSet.empty[Long]
    while (picked.size < math.min(gen.refreshRows, ids.size))
      picked += ids(rng.nextInt(ids.size))
    picked.toSeq.map { id =>
      val r = rows(id)
      r.copy(stars = r.stars + 1 + rng.nextInt(50),
        language = if (rng.nextInt(5) == 0)
          gen.languages(rng.nextInt(gen.languages.size)) else r.language,
        updatedAt = gen.batchTime(batch))
    }
  }

  /** Per-language (count, sum of stars) of the expected table. */
  def byLanguage: Map[String, (Long, Long)] =
    rows.values.groupBy(_.language).map { case (l, rs) =>
      l -> (rs.size.toLong, rs.iterator.map(_.stars).sum)
    }
}

/** Zipf(s) ranks over [1, n] by the continuous inverse CDF. */
object Zipf {
  def rank(n: Int, s: Double, u: Double): Int = {
    val a = 1 - s
    val r = math.pow((math.pow(n.toDouble, a) - 1) * u + 1, 1 / a)
    math.min(n, math.max(1, r.toInt))
  }
}

/** A curation document: text plus a 64-dim embedding. `kind` says how it
  * was planted: an original, or a duplicate of an earlier original that
  * is exact, a one-word edit, or a near-identical embedding. */
final case class Doc(id: Long, text: String, emb: Array[Float], kind: String)

/** Text+embedding corpus with planted duplicate clusters, at an assumed
  * mix: 8% exact copies, 6% one-word edits with a jittered embedding, 6%
  * new text with a jittered embedding, 80% originals drawn around 16
  * topic centres. */
final class CorpusGen(seed: Long) {
  val dims = 64
  private val rng = new Random(seed * 131 + 17)
  private val vocab: Vector[String] = Vector.tabulate(4000) { i =>
    val r = new Random(seed * 7919 + i)
    (1 to 4 + r.nextInt(6)).map(_ => ('a' + r.nextInt(26)).toChar).mkString
  }
  private def unitVec(r: Random): Array[Double] = {
    val v = Array.fill(dims)(r.nextGaussian())
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(_ / n)
  }
  private val topics = Vector.fill(16)(unitVec(rng))
  private val originals = mutable.ArrayBuffer.empty[Doc]

  private def words(n: Int): Seq[String] =
    Seq.fill(n)(vocab(rng.nextInt(vocab.size)))
  private def jitter(e: Array[Float]): Array[Float] =
    e.map(x => (x + rng.nextGaussian() * 0.01).toFloat)

  /** A fresh vector around a random topic centre (the query distribution
    * is the corpus distribution). */
  def sample(): Array[Float] = {
    val c = topics(rng.nextInt(topics.size))
    val n = unitVec(rng)
    c.indices.map(i => (0.6 * c(i) + 0.8 * n(i)).toFloat).toArray
  }

  def doc(id: Long): Doc = {
    val u = rng.nextDouble()
    if (originals.size < 20 || u >= 0.20) {
      val d = Doc(id, words(24 + rng.nextInt(16)).mkString(" "), sample(),
        "original")
      originals += d
      d
    } else {
      val base = originals(rng.nextInt(originals.size))
      if (u < 0.08) Doc(id, base.text, base.emb, "exact")
      else if (u < 0.14) {
        val ws = base.text.split(" ")
        ws(rng.nextInt(ws.length)) = vocab(rng.nextInt(vocab.size))
        Doc(id, ws.mkString(" "), jitter(base.emb), "text")
      } else
        Doc(id, words(24 + rng.nextInt(16)).mkString(" "), jitter(base.emb),
          "vector")
    }
  }
}
