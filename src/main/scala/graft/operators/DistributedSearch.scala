package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Distributed backtracking search — the reference's puzzle-driver family
  * (reference: examples/dancing/DistributedPentomino.java, Sudoku.java:
  * enumerate search prefixes, ship each prefix's subtree to a mapper,
  * solve imperatively, collect solutions).
  *
  * The same decomposition on Spark: the driver enumerates the valid
  * assignments of the first `prefixDepth` empty cells (a few hundred
  * branches), parallelizes them, and each task exhausts its subtree with a
  * plain backtracking solver. Compute-only: no shuffle at all until the
  * final (tiny) solution collect. Scaling knob = prefix depth, exactly the
  * reference's `pent.depth`.
  */
object DistributedSearch {

  /** All solutions of a 9×9 sudoku (81-char string, '0' = empty). */
  def solveSudoku(spark: SparkSession, puzzle: String,
                  prefixDepth: Int = 2): DataFrame = {
    import spark.implicits._
    require(puzzle.length == 81)
    // driver side: expand the first `prefixDepth` empty cells
    var prefixes = Seq(puzzle)
    for (_ <- 0 until prefixDepth)
      prefixes = prefixes.flatMap(expandFirstEmpty)
    val n = math.max(1, prefixes.size)
    spark.sparkContext.parallelize(prefixes, n.min(64))
      .flatMap(solveAll)
      .toDF("solution")
      .orderBy("solution")
  }

  /** One-step expansion: every valid digit for the first empty cell. */
  private def expandFirstEmpty(g: String): Seq[String] = {
    val i = g.indexOf('0')
    if (i < 0) Seq(g)
    else ('1' to '9').collect {
      case d if valid(g, i, d) => g.updated(i, d)
    }
  }

  private def valid(g: String, i: Int, d: Char): Boolean = {
    val (r, c) = (i / 9, i % 9)
    (0 until 81).forall { j =>
      g(j) != d ||
        !(j / 9 == r || j % 9 == c || (j / 27 == r / 3 && (j % 9) / 3 == c / 3))
    }
  }

  /** Exhaustive backtracking over one subtree (runs inside a task). */
  private def solveAll(g: String): Seq[String] = {
    val i = g.indexOf('0')
    if (i < 0) Seq(g)
    else ('1' to '9').toSeq.collect {
      case d if valid(g, i, d) => solveAll(g.updated(i, d))
    }.flatten
  }

  // ---- pentomino (reference: examples/dancing/DistributedPentomino.java) --
  //
  // The 6×10 pentomino exact cover: 12 free pieces tile 60 cells. Board =
  // one Long bitmask (cell r·10+c = bit); a placement = (piece, mask). The
  // key pruning invariant: a placement covering the lowest empty cell must
  // have its row-major-first cell exactly there (all earlier cells are
  // filled), so the placement table is indexed by that anchor cell. Known
  // answer: 2339 distinct solutions up to board symmetry (the constant
  // every dancing-links paper quotes), used as the oracle.

  private val PentRows = 6
  private val PentCols = 10

  private val PieceCells: Seq[(Char, Seq[(Int, Int)])] = Seq(
    'F' -> Seq((0, 1), (0, 2), (1, 0), (1, 1), (2, 1)),
    'I' -> Seq((0, 0), (1, 0), (2, 0), (3, 0), (4, 0)),
    'L' -> Seq((0, 0), (1, 0), (2, 0), (3, 0), (3, 1)),
    'N' -> Seq((0, 1), (1, 1), (2, 0), (2, 1), (3, 0)),
    'P' -> Seq((0, 0), (0, 1), (1, 0), (1, 1), (2, 0)),
    'T' -> Seq((0, 0), (0, 1), (0, 2), (1, 1), (2, 1)),
    'U' -> Seq((0, 0), (0, 2), (1, 0), (1, 1), (1, 2)),
    'V' -> Seq((0, 0), (1, 0), (2, 0), (2, 1), (2, 2)),
    'W' -> Seq((0, 0), (1, 0), (1, 1), (2, 1), (2, 2)),
    'X' -> Seq((0, 1), (1, 0), (1, 1), (1, 2), (2, 1)),
    'Y' -> Seq((0, 1), (1, 0), (1, 1), (2, 1), (3, 1)),
    'Z' -> Seq((0, 0), (0, 1), (1, 1), (2, 1), (2, 2)))

  private val PieceLetters: IndexedSeq[Char] = PieceCells.map(_._1).toIndexedSeq

  /** All distinct orientations (4 rotations × optional reflection) per
    * piece, shifted so min row = min col = 0.
    */
  private lazy val orientations: Seq[(Int, Seq[(Int, Int)])] =
    PieceCells.zipWithIndex.flatMap { case ((_, cells), pi) =>
      val distinct = scala.collection.mutable.LinkedHashSet.empty[Seq[(Int, Int)]]
      for (flip <- 0 to 1) {
        var g = if (flip == 0) cells else cells.map { case (r, c) => (r, -c) }
        for (_ <- 0 until 4) {
          g = g.map { case (r, c) => (c, -r) }
          val (mr, mc) = (g.map(_._1).min, g.map(_._2).min)
          distinct += g.map { case (r, c) => (r - mr, c - mc) }.sorted
        }
      }
      distinct.toSeq.map(o => pi -> o)
    }

  /** placements(cell): encoded `(piece << 60) | mask` choices whose
    * row-major-first covered cell is `cell`.
    */
  private lazy val placements: Array[Array[Long]] = {
    val out = Array.fill(PentRows * PentCols)(List.empty[Long])
    for {
      (pi, cells) <- orientations
      er <- 0 until PentRows
      ec <- 0 until PentCols
    } {
      val (ar, ac) = cells.head // sorted → head is the row-major anchor
      val abs = cells.map { case (r, c) => (r - ar + er, c - ac + ec) }
      if (abs.forall { case (r, c) =>
        r >= 0 && r < PentRows && c >= 0 && c < PentCols }) {
        val mask = abs.map { case (r, c) => 1L << (r * PentCols + c) }.reduce(_ | _)
        out(er * PentCols + ec) ::= (pi.toLong << 60) | mask
      }
    }
    out.map(_.toArray)
  }

  private val MaskBits = (1L << 60) - 1

  final case class PentState(occ: Long, used: Int, placed: List[Long])

  private def expandPent(s: PentState): Seq[PentState] = {
    val e = java.lang.Long.numberOfTrailingZeros(~s.occ)
    if (e >= PentRows * PentCols) Seq.empty
    else placements(e).toSeq.collect {
      case enc if (s.used & (1 << (enc >>> 60).toInt)) == 0 &&
        (s.occ & (enc & MaskBits)) == 0L =>
        PentState(s.occ | (enc & MaskBits),
          s.used | (1 << (enc >>> 60).toInt), enc :: s.placed)
    }
  }

  /** Exhaust one subtree; returns board strings (one piece letter per cell).
    *
    * The inner loop is ALLOCATION-FREE: placements ride a preallocated
    * 12-slot Long stack instead of a cons list. The cons-per-node version
    * allocated millions of list cells per subtree, which ran fine in a
    * quiet JVM but collapsed 3-10× mid-bench when 100+ earlier queries had
    * filled the old gen — an allocation-heavy hot loop inherits the whole
    * process's GC debt. Zero allocation makes task time independent of
    * heap history (the same property the 100 TB executor wants).
    */
  private def solvePentFrom(start: PentState): Seq[String] = {
    val out = Seq.newBuilder[String]
    val stack = new Array[Long](12)
    var d0 = 0
    for (enc <- start.placed.reverse) { stack(d0) = enc; d0 += 1 }
    def rec(occ: Long, used: Int, depth: Int): Unit = {
      if (used == 0xFFF) { out += renderPent(stack, depth); return }
      val ps = placements(java.lang.Long.numberOfTrailingZeros(~occ))
      var i = 0
      while (i < ps.length) {
        val enc = ps(i)
        val pi = (enc >>> 60).toInt
        val m = enc & MaskBits
        if ((used & (1 << pi)) == 0 && (occ & m) == 0L) {
          stack(depth) = enc
          rec(occ | m, used | (1 << pi), depth + 1)
        }
        i += 1
      }
    }
    rec(start.occ, start.used, d0)
    out.result()
  }

  private def renderPent(placed: Array[Long], n: Int): String = {
    val b = new Array[Char](PentRows * PentCols)
    var j = 0
    while (j < n) {
      val enc = placed(j)
      val letter = PieceLetters((enc >>> 60).toInt)
      var m = enc & MaskBits
      while (m != 0L) {
        b(java.lang.Long.numberOfTrailingZeros(m)) = letter
        m &= m - 1
      }
      j += 1
    }
    new String(b)
  }

  /** Canonical form under the rectangle's symmetry group (identity, 180°
    * rotation, horizontal flip, vertical flip): the lexicographic min.
    */
  private def canonicalPent(s: String): String = {
    def at(r: Int, c: Int) = s(r * PentCols + c)
    val variants = Seq(
      s,
      s.reverse, // 180°
      (for (r <- 0 until PentRows; c <- 0 until PentCols)
        yield at(r, PentCols - 1 - c)).mkString,
      (for (r <- 0 until PentRows; c <- 0 until PentCols)
        yield at(PentRows - 1 - r, c)).mkString)
    variants.min
  }

  /** Count the distinct 6×10 pentomino tilings: prefix fan-out (first
    * `prefixDepth` piece placements expanded on the driver), one task per
    * prefix subtree, canonicalize under board symmetry, distinct, count.
    * Compute-only until the final tiny distinct+count (the sudoku shape).
    */
  def pentominoSolutions(spark: SparkSession, prefixDepth: Int = 2): DataFrame = {
    import spark.implicits._
    var frontier = Seq(PentState(0L, 0, Nil))
    for (_ <- 0 until prefixDepth) frontier = frontier.flatMap(expandPent)
    spark.sparkContext
      .parallelize(frontier, frontier.size.min(256).max(1))
      .flatMap(solvePentFrom)
      .map(canonicalPent)
      .toDF("sol").distinct()
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n_solutions"))
  }
}
