package erbench

import java.util.SplittableRandom

/**
 * Seeded planted-duplicate dirty ER corpus. Pure Scala over a SplittableRandom:
 * no engine code is called, so the same seed yields byte-identical
 * profiles and ground truth on every commit of the engine.
 *
 * Profiles have the attributes of the reference implementation's
 * synthetic dirty datasets (10K/50K/100K profiles: given_name, surname,
 * street_number, address_1, suburb, postcode, state, date_of_birth, age,
 * phone_number, soc_sec_id) and are rows of the engine's long attribute
 * layout (one source, so `source_id` is 0 when they are written). Every
 * categorical value is drawn with Zipf's law (P(rank r) proportional to
 * 1/r), so a few tokens form huge blocks (work for purging) and most
 * sit in mid-sized ones (work for filtering). A share of the profiles
 * are duplicates: copies of an original with typos, dropped tokens,
 * missing attributes and swapped attribute values.
 */
object Corpus {

  final case class Row(profileId: Long, attribute: String, value: String)

  /** rows: the profiles; gt: matching pairs (p1 < p2) */
  final case class Data(rows: Array[Row], gt: Array[(Long, Long)], profiles: Int) {
    /** Token-block comparisons before any cleaning: sum over tokens of
     * C(n, 2), n the token's profile count, tokens split like the engine's
     * token blocking (runs of letters, digits and '_'). */
    def rawComparisons: Long = {
      val perToken = scala.collection.mutable.HashMap.empty[String, Long]
      rows.groupBy(_.profileId).valuesIterator.foreach { rs =>
        rs.flatMap(r => tokens(r.value)).distinct.foreach { t =>
          perToken(t) = perToken.getOrElse(t, 0L) + 1
        }
      }
      perToken.valuesIterator.map(n => n * (n - 1) / 2).sum
    }
  }

  private val Split = "[^\\p{L}\\p{N}_]+"
  def tokens(v: String): Array[String] = v.toLowerCase.split(Split).filter(_.nonEmpty)

  /** Sampler over ranks 0 until n with P(r) proportional to 1 / (r+1). */
  private final class Zipf(n: Int) {
    private val cdf = {
      val c = Array.tabulate(n)(r => 1.0 / (r + 1)).scanLeft(0.0)(_ + _).tail
      c.map(_ / c.last)
    }
    def apply(rnd: SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  private val Syllables = {
    val cs = "b c d f g h j k l m n p r s t v w z br ch cl dr gr kr pl sh st th tr".split(' ')
    val vs = "a e i o u ai ea io ou".split(' ')
    for (c <- cs; v <- vs) yield c + v
  }

  /** n distinct pronounceable words, a fixed function of (seed, salt). */
  private def vocabulary(seed: Long, salt: Long, n: Int, minSyl: Int, maxSyl: Int): Array[String] = {
    val rnd = new SplittableRandom(seed * 1000003L + salt)
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    while (seen.size < n) {
      val k = minSyl + rnd.nextInt(maxSyl - minSyl + 1)
      seen += (0 until k).map(_ => Syllables(rnd.nextInt(Syllables.length))).mkString
    }
    seen.toArray
  }

  /** Value pools. Their sizes are chosen, not measured. */
  private final class Vocab(seed: Long) {
    val given = vocabulary(seed, 1, 1000, 2, 3)
    val surname = vocabulary(seed, 2, 4000, 2, 4)
    val street = vocabulary(seed, 3, 2000, 2, 3)
    val suburb = vocabulary(seed, 4, 500, 2, 4)
    val streetTypes = Array("street", "road", "avenue", "place", "crescent", "drive",
      "court", "close", "parade", "circuit")
    val states = Array("nsw", "vic", "qld", "wa", "sa", "tas", "act", "nt")
    /** A fixed postcode per suburb, as in a real address. */
    val postcode = {
      val rnd = new SplittableRandom(seed * 1000003L + 5)
      Array.fill(suburb.length)(f"${1000 + rnd.nextInt(9000)}%04d")
    }
    val givenZ = new Zipf(given.length)
    val surnameZ = new Zipf(surname.length)
    val streetZ = new Zipf(street.length)
    val suburbZ = new Zipf(suburb.length)
    val typeZ = new Zipf(streetTypes.length)
    val stateZ = new Zipf(states.length)
    val numberZ = new Zipf(9999)
  }

  /** An original profile as (attribute, value) pairs. */
  private def original(v: Vocab, rnd: SplittableRandom): Array[(String, String)] = {
    val suburb = v.suburbZ(rnd)
    val state = v.stateZ(rnd)
    val year = 1920 + rnd.nextInt(86)
    Array(
      "given_name" -> v.given(v.givenZ(rnd)),
      "surname" -> v.surname(v.surnameZ(rnd)),
      "street_number" -> (1 + v.numberZ(rnd)).toString,
      "address_1" -> s"${v.street(v.streetZ(rnd))} ${v.streetTypes(v.typeZ(rnd))}",
      "suburb" -> v.suburb(suburb),
      "postcode" -> v.postcode(suburb),
      "state" -> v.states(state),
      "date_of_birth" -> f"$year%04d${1 + rnd.nextInt(12)}%02d${1 + rnd.nextInt(28)}%02d",
      "age" -> (2006 - year).toString,
      "phone_number" -> f"0${2 + state} ${rnd.nextInt(10000)}%04d ${rnd.nextInt(10000)}%04d",
      "soc_sec_id" -> f"${rnd.nextInt(10000000)}%07d")
  }

  /** One edit of a word of two or more characters; digits are replaced by
   * digits and letters by letters. */
  private def typo(w: String, rnd: SplittableRandom): String =
    if (w.length < 2) w
    else {
      val i = rnd.nextInt(w.length - 1)
      val c = if (w(i).isDigit) ('0' + rnd.nextInt(10)).toChar else ('a' + rnd.nextInt(26)).toChar
      rnd.nextInt(4) match {
        case 0 => w.substring(0, i) + c + w.substring(i + 1)             // substitute
        case 1 => w.substring(0, i) + w.substring(i + 1)                 // delete
        case 2 => w.substring(0, i) + c + w.substring(i)                 // insert
        case _ => w.substring(0, i) + w(i + 1) + w(i) + w.substring(i + 2) // transpose
      }
    }

  /** A duplicate of `orig` with one to three modifications, each on a
   * random attribute: a typo (p .5), a dropped token of a multi-token
   * value (p .2, a typo for one-token values), the attribute missing
   * (p .2), or its value swapped with another attribute's (p .1). */
  private def perturb(orig: Array[(String, String)], rnd: SplittableRandom): Array[(String, String)] = {
    val out = orig.map { case (a, value) => a -> value.split(' ') }
    val missing = Array.fill(out.length)(false)
    for (_ <- 0 until 1 + rnd.nextInt(3)) {
      val i = rnd.nextInt(out.length)
      val (a, ts) = out(i)
      val u = rnd.nextDouble()
      if (u < 0.2 && ts.length > 1) {
        val drop = rnd.nextInt(ts.length)
        out(i) = a -> ts.zipWithIndex.collect { case (t, k) if k != drop => t }
      } else if (u < 0.7) {
        val k = rnd.nextInt(ts.length)
        out(i) = a -> ts.updated(k, typo(ts(k), rnd))
      } else if (u < 0.9) {
        missing(i) = true
      } else {
        val j = rnd.nextInt(out.length)
        out(i) = a -> out(j)._2
        out(j) = out(j)._1 -> ts
      }
    }
    out.indices.collect { case i if !missing(i) => out(i)._1 -> out(i)._2.mkString(" ") }.toArray
  }

  /** Duplicates of one original: k with P(k) proportional to 1/k, k in 1 to 4. */
  private val copiesZ = new Zipf(4)

  /**
   * Dirty corpus (one source) of `profiles` profiles, a share `dupShare`
   * of them duplicates. Originals take their duplicates in a seeded order
   * until the share is reached, so clusters have 2 to 5 profiles. Profile
   * ids are a seeded permutation, so duplicates are not adjacent.
   */
  def dirty(seed: Long, profiles: Int, dupShare: Double): Data = {
    val rnd = new SplittableRandom(seed)
    val v = new Vocab(seed)
    val nDup = math.round(profiles * dupShare).toInt
    val originals = Array.fill(profiles - nDup)(original(v, rnd))
    val order = permutation(originals.length, rnd)
    val groups = originals.map(o => scala.collection.mutable.ArrayBuffer(o))
    var left = nDup
    var next = 0
    while (left > 0) {
      val g = groups(order(next)); next += 1
      val k = math.min(left, 1 + copiesZ(rnd))
      for (_ <- 0 until k) g += perturb(g.head, rnd)
      left -= k
    }
    val ids = permutation(profiles, rnd)
    var id = 0
    val rows = Array.newBuilder[Row]
    val gt = Array.newBuilder[(Long, Long)]
    groups.foreach { g =>
      val gids = g.map { attrs =>
        val pid = ids(id).toLong; id += 1
        attrs.foreach { case (a, value) => rows += Row(pid, a, value) }
        pid
      }
      for (i <- gids.indices; j <- i + 1 until gids.length)
        gt += ((math.min(gids(i), gids(j)), math.max(gids(i), gids(j))))
    }
    Data(rows.result(), gt.result(), profiles)
  }

  private def permutation(n: Int, rnd: SplittableRandom): Array[Int] = {
    val a = Array.tabulate(n)(identity)
    for (i <- n - 1 to 1 by -1) {
      val j = rnd.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a
  }
}
