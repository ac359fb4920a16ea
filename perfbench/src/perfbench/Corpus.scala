package perfbench

/** Seeded GitHub pull-request corpus, shared by the API simulator (which
  * serves it) and the benchmark (which derives the expected tables from
  * it). Plain JDK/Scala only, so the simulator process needs no Spark.
  *
  * Envelopes follow the reference integration corpus: 1-20 commits per
  * PR, 1-15 files per commit, 0-5 reviews, 0-10 comments. Edge cases:
  * roughly one PR in 50 lacks `number`, one in 10 uses the nonstandard
  * `yyyy-MM-dd HH:mm:ssZ` timestamp, and PRs randomly carry a null-user
  * review, a null-user comment and an empty-body comment.
  *
  * Repositories are named `perf/r<i>`; every repository draws from its
  * own stream, so corpora differ per repository and per seed.
  */
final class Corpus(val seed: Long, val repoCount: Int, val prsPerRepo: Int) {
  import Corpus._

  def repoName(i: Int): String = s"perf/r$i"
  def repoNames: Seq[String] = (0 until repoCount).map(repoName)

  def repoIndex(name: String): Option[Int] =
    name.stripPrefix("perf/r").toIntOption.filter(i => name.startsWith("perf/r") && i >= 0 && i < repoCount)

  private def rnd(parts: Long*): Long = parts.foldLeft(mix(seed ^ 0x5eedL))((h, p) => mix(h ^ p))
  private def pick(bound: Int, parts: Long*): Int = java.lang.Math.floorMod(rnd(parts: _*), bound.toLong).toInt

  // Per-repo offsets place the edge cases at seeded, repo-specific PRs.
  private def missingNumber(ri: Int, n: Int): Boolean = n % 50 == pick(50, ri, 1)
  private def nonstandardTs(ri: Int, n: Int): Boolean = n % 10 == pick(10, ri, 2)

  def hasNumber(ri: Int, n: Int): Boolean = !missingNumber(ri, n)
  def isOpen(ri: Int, n: Int): Boolean = pick(2, ri, n, 3) == 0
  def commitCount(ri: Int, n: Int): Int = 1 + pick(20, ri, n, 4)
  def fileCount(ri: Int, n: Int, c: Int): Int = 1 + pick(15, ri, n, c, 5)
  def reviewCount(ri: Int, n: Int): Int = pick(6, ri, n, 6)
  def commentCount(ri: Int, n: Int): Int = pick(11, ri, n, 7)
  def nullUserReview(ri: Int, n: Int): Boolean = pick(2, ri, n, 8) == 0
  def nullUserComment(ri: Int, n: Int): Boolean = pick(2, ri, n, 9) == 0
  def emptyBodyComment(ri: Int, n: Int): Boolean = pick(2, ri, n, 10) == 0

  /** Creation times ascend with the PR number, as the API's
    * `sort=created&direction=asc` listing promises.
    */
  def timestamp(ri: Int, n: Int, minutes: Int, nonstandard: Boolean): String = {
    val t = java.time.LocalDateTime.of(2023, 1, 1, 0, 0)
      .plusMinutes(n.toLong * 97 + minutes + pick(60, ri, n, 11))
    val d = t.toLocalDate
    val time = f"${t.getHour}%02d:${t.getMinute}%02d:00"
    if (nonstandard) s"$d ${time}Z" else s"${d}T${time}Z"
  }

  def sha(ri: Int, n: Int, c: Int): String =
    f"$ri%04x$n%08x$c%04x${rnd(ri, n, c, 12)}%016x".take(40).padTo(40, '0')

  /** (repo index, PR number, commit index) back from a commit sha. */
  def parseSha(s: String): Option[(Int, Int, Int)] =
    if (s.length != 40) None
    else scala.util.Try((
      Integer.parseInt(s.substring(0, 4), 16),
      Integer.parseInt(s.substring(4, 12), 16),
      Integer.parseInt(s.substring(12, 16), 16))).toOption

  /** Review and comment ids, unique within each kind. */
  def childId(ri: Int, n: Int, i: Int): Long = ri * 100000000L + n * 100L + i

  def isOpenState(ri: Int, n: Int): String = if (isOpen(ri, n)) "open" else "closed"

  // ---- JSON documents -------------------------------------------------

  def prJson(ri: Int, n: Int): String = {
    val ts = timestamp(ri, n, 0, nonstandardTs(ri, n))
    val merged = if (isOpen(ri, n)) "null" else q(timestamp(ri, n, 30, nonstandard = false))
    val labels = (0 until pick(4, ri, n, 13)).map(i => s"""{"name":"L$n-$i"}""").mkString(",")
    val number = if (hasNumber(ri, n)) s""""number":$n,""" else ""
    s"""{$number"title":"Bug ${1000000 + n} - change $n in ${repoName(ri)}",""" +
      s""""state":"${isOpenState(ri, n)}","created_at":${q(ts)},"updated_at":${q(ts)},""" +
      s""""merged_at":$merged,"labels":[$labels]}"""
  }

  def commitsJson(ri: Int, n: Int): String =
    (1 to commitCount(ri, n)).map { c =>
      s"""{"sha":"${sha(ri, n, c)}","commit":{"author":{"name":"dev$ri-$n","email":"d$n@example.com",""" +
        s""""date":${q(timestamp(ri, n, c, nonstandard = false))}}}}"""
    }.mkString("[", ",", "]")

  def fileName(ri: Int, n: Int, c: Int, f: Int): String = s"src/m${pick(9, ri, n, c, f, 14)}/f$c-$f.scala"

  def commitDetailJson(ri: Int, n: Int, c: Int): String = {
    val files = (1 to fileCount(ri, n, c)).map { f =>
      s"""{"filename":"${fileName(ri, n, c, f)}","additions":${pick(100, ri, n, c, f, 15)},""" +
        s""""deletions":${pick(50, ri, n, c, f, 16)},"status":"modified"}"""
    }.mkString(",")
    s"""{"sha":"${sha(ri, n, c)}","files":[$files]}"""
  }

  def reviewState(i: Int): String = ReviewStates(i % ReviewStates.length)

  def reviewsJson(ri: Int, n: Int): String = {
    val real = (0 until reviewCount(ri, n)).map { i =>
      s"""{"id":${childId(ri, n, i)},"user":{"login":"rev$ri-$n-$i"},"state":"${reviewState(i)}",""" +
        s""""submitted_at":${q(timestamp(ri, n, 40 + i, nonstandard = false))}}"""
    }
    val nulls =
      if (nullUserReview(ri, n)) Seq(
        s"""{"id":${childId(ri, n, 9)},"user":null,"state":"COMMENTED",""" +
          s""""submitted_at":${q(timestamp(ri, n, 50, nonstandard = false))}}""")
      else Nil
    (real ++ nulls).mkString("[", ",", "]")
  }

  def commentsJson(ri: Int, n: Int): String = {
    val rc = reviewCount(ri, n)
    val real = (0 until commentCount(ri, n)).map { i =>
      val review = if (rc > 0 && i % 3 == 0) childId(ri, n, i % rc).toString else "null"
      s"""{"id":${childId(ri, n, i)},"user":{"login":"u$ri-$n-$i"},"body":"comment $n $i",""" +
        s""""created_at":${q(timestamp(ri, n, 60 + i, nonstandard = false))},"pull_request_review_id":$review}"""
    }
    val edge =
      (if (nullUserComment(ri, n)) Seq(
        s"""{"id":${childId(ri, n, 90)},"user":null,"body":"dropped",""" +
          s""""created_at":${q(timestamp(ri, n, 90, nonstandard = false))},"pull_request_review_id":null}""")
      else Nil) ++
      (if (emptyBodyComment(ri, n)) Seq(
        s"""{"id":${childId(ri, n, 91)},"user":{"login":"u$ri-$n-e"},"body":"",""" +
          s""""created_at":${q(timestamp(ri, n, 91, nonstandard = false))},"pull_request_review_id":null}""")
      else Nil)
    (real ++ edge).mkString("[", ",", "]")
  }

  // ---- expected output --------------------------------------------------

  /** Expected key rows of the four published tables for repo `ri`, by
    * the reference drop rules: PRs without `number` are dropped,
    * reviews with a null user and comments with a null user or an empty
    * body are dropped, and commits yield one row per (commit, file).
    */
  def expectedPullRequests(ri: Int): Seq[Long] =
    (1 to prsPerRepo).filter(hasNumber(ri, _)).map(_.toLong)

  def expectedCommits(ri: Int): Seq[(Long, String, String)] =
    for {
      n <- (1 to prsPerRepo).filter(hasNumber(ri, _))
      c <- 1 to commitCount(ri, n)
      f <- 1 to fileCount(ri, n, c)
    } yield (n.toLong, sha(ri, n, c), fileName(ri, n, c, f))

  def expectedReviewers(ri: Int): Seq[(Long, String, String)] =
    for {
      n <- (1 to prsPerRepo).filter(hasNumber(ri, _))
      i <- 0 until reviewCount(ri, n)
    } yield (n.toLong, s"rev$ri-$n-$i", reviewState(i))

  def expectedComments(ri: Int): Seq[(Long, Long)] =
    for {
      n <- (1 to prsPerRepo).filter(hasNumber(ri, _))
      i <- 0 until commentCount(ri, n)
    } yield (n.toLong, childId(ri, n, i))
}

object Corpus {
  val ReviewStates: Array[String] = Array("APPROVED", "COMMENTED", "CHANGES_REQUESTED")

  /** SplitMix64 finalizer. */
  def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  private def q(s: String): String = "\"" + s + "\""
}
