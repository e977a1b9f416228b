package graftbench

/** Seeded, partition-independent row generation: every value is a pure
  * function of (seed, row id, salt), so the same seed gives the same files
  * whatever the parallelism. Nothing here uses the program's own
  * generators, so a change to the program cannot change the inputs. */
object Gen {
  /** splitmix64 finalizer */
  def mix(x0: Long): Long = {
    var z = x0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def h(seed: Long, i: Long, salt: Int): Long = mix(mix(seed * 1000003L + salt) ^ i)

  def pick(seed: Long, i: Long, salt: Int, n: Long): Long = java.lang.Math.floorMod(h(seed, i, salt), n)

  def unit(seed: Long, i: Long, salt: Int): Double = (h(seed, i, salt) >>> 11) * (1.0 / (1L << 53))

  private val Letters = "abcdefghijklmnopqrstuvwxyz"

  /** Lower-case word of 3 to 9 letters. */
  def word(seed: Long, i: Long, salt: Int): String = {
    val len = 3 + pick(seed, i, salt, 7).toInt
    val sb = new StringBuilder(len)
    var k = 0
    while (k < len) {
      sb += Letters.charAt(pick(seed, i * 16 + k, salt + 1, 26).toInt)
      k += 1
    }
    sb.toString
  }

  /** A seeded bijection on [0, n): i -> (a*i + b) mod n with gcd(a, n) = 1,
    * used to scatter exact-size groups over the row ids. */
  final case class Perm(a: Long, b: Long, n: Long) {
    def apply(i: Long): Long = java.lang.Math.floorMod(a * i + b, n)
  }

  def perm(seed: Long, n: Long): Perm = {
    require(n < (1L << 31), "row ids must stay below 2^31 so a*i fits a long")
    var a = 1L + pick(seed, 0, 7, n - 1)
    while (BigInt(a).gcd(BigInt(n)) != 1) a += 1
    Perm(a % n, pick(seed, 0, 8, n), n)
  }

  /** Exact Zipf(s) sizes of `k` groups summing to `n`, largest first. */
  def zipfSizes(n: Long, k: Int, s: Double): Array[Long] = {
    val w = (1 to k).map(r => 1.0 / math.pow(r, s))
    val sizes = w.map(x => math.max(1L, math.floor(n * x / w.sum).toLong)).toArray
    sizes(0) += n - sizes.sum
    sizes
  }
}
