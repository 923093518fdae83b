package graft.functions

import scala.collection.mutable

/** The geometric core of the H3 discrete global grid: gnomonic face
  * projection, base-cell layout and grid traversal — the parts of the
  * reference's h3 function family (`/root/reference/src/Functions/
  * h3ToGeo.cpp`, `geoToH3.cpp`, `h3kRing.cpp`, `h3HexRing.cpp`,
  * `h3GetFaces.cpp`) that need real icosahedral geometry rather than
  * index bit-arithmetic (which lives in [[GeoGrid.H3]]).
  *
  * Reimplemented from the published H3 spec and the Apache-2.0 H3
  * reference data (docs.h3geo.org "Coordinate systems" + the library's
  * published face/base-cell constants). Only three primary data tables
  * are transcribed — the 20 face centers, the 20×3 face axis azimuths
  * and the 122 base-cell home coordinates; every cross-face table
  * (face→base-cell lookup, base-cell neighbors and their orientation
  * rotations) is DERIVED from those at init by geometric nearest-center
  * matching, and the whole assembly is pinned against the reference's
  * own golden test outputs (00926/01042/01906/02293…) in H3CoreSpec.
  */
object H3Core {

  // ---------------------------------------------------------------- //
  // constants
  // ---------------------------------------------------------------- //
  val MaxRes = 15
  private val NumBaseCells = 122
  private val InvalidBaseCell = 127
  private val EpsilonRad = 1.0e-9

  private val Sqrt7 = 2.6457513110645905905016157536392604257102
  private val Sin60 = math.sqrt(3.0) / 2.0
  /** asin(sqrt(3/28)): the Class III aperture-7 rotation. */
  private val Ap7RotRads = 0.333473172251832115336090755351601070065900389
  /** Res-0 hexagon radius in gnomonic units. */
  private val Res0UGnomonic = 0.38196601125010500003

  // digit constants (CoordIJK unit-vector order)
  final val CenterDigit = 0
  final val KDigit = 1
  final val JDigit = 2
  final val JKDigit = 3
  final val IDigit = 4
  final val IKDigit = 5
  final val IJDigit = 6
  final val InvalidDigit = 7

  // ---------------------------------------------------------------- //
  // published geometry tables (H3 library data, Apache-2.0)
  // ---------------------------------------------------------------- //

  /** Icosahedron face centers, (lat, lon) radians. */
  private val faceCenterGeo: Array[(Double, Double)] = Array(
    (0.803582649718989942, 1.248397419617396099),
    (1.307747883455638156, 2.536945009877921159),
    (1.054751253523952054, -1.347517358900396623),
    (0.600191595538186799, -0.450603909469755746),
    (0.491715428198773866, 0.401988202911306943),
    (0.172745327415618701, 1.678146885280433686),
    (0.605929321571350690, 2.953923329812411617),
    (0.427370518328979641, -1.888876200336285401),
    (-0.079066118549212831, -0.733429513380867741),
    (-0.230961644455383637, 0.506495587332349035),
    (0.079066118549212831, 2.408163140208925497),
    (0.230961644455383637, -2.635097066257444203),
    (-0.172745327415618701, -1.463445768309359553),
    (-0.605929321571350690, -0.187669323777381622),
    (-0.427370518328979641, 1.252716453253507838),
    (-0.600191595538186799, 2.690988744120037492),
    (-0.491715428198773866, -2.739604450678486295),
    (-0.803582649718989942, -1.893195233972397139),
    (-1.307747883455638156, -0.604647643711872080),
    (-1.054751253523952054, 1.794075294689396615))

  /** Azimuth (radians) from each face center to each of its Class II
    * i/j/k axes. */
  private val faceAxesAzRadsCII: Array[Array[Double]] = Array(
    Array(5.619958268523939882, 3.525563166130744542, 1.431168063737548730),
    Array(5.760339081714187279, 3.665943979320991689, 1.571548876927795878),
    Array(0.780213654393430055, 4.969003859179821079, 2.874608756786625655),
    Array(0.430469363979999913, 4.619259568766391033, 2.524864466373195467),
    Array(6.130269123335111400, 4.035874020941915804, 1.941478918548720291),
    Array(2.692877706530642877, 0.598482604137447119, 4.787272808923838195),
    Array(2.982963003477243874, 0.888567901084048369, 5.077358105870439581),
    Array(3.532912002790141181, 1.438516900396945656, 5.627307105183336758),
    Array(3.494305004259568154, 1.399909901866372864, 5.588700106652763840),
    Array(3.003214169499538391, 0.908819067106342928, 5.097609271892733906),
    Array(5.930472956509811562, 3.836077854116615875, 1.741682751723420374),
    Array(0.138378484090254847, 4.327168688876645809, 2.232773586483450311),
    Array(0.448714947059150361, 4.637505151845541521, 2.543110049452346023),
    Array(0.158629650112549365, 4.347419854898940135, 2.253024752505744637),
    Array(5.891865957979238535, 3.797470855586042958, 1.703075753192847583),
    Array(2.711123289609793325, 0.616728187216597771, 4.805518392002988683),
    Array(3.294508837434268316, 1.200113735041072948, 5.388903939827463911),
    Array(3.804819692245439833, 1.710424589852244509, 5.899214794638635472),
    Array(3.664438879055192436, 1.570043776661997111, 5.758833981448388075),
    Array(2.361378999196363184, 0.266983896803167583, 4.455774101589558636))

  /** Base cell home coordinates: (home face, i, j, k, isPentagon,
    * cwOffsetFace1, cwOffsetFace2). */
  private val baseCellData: Array[(Int, Int, Int, Int, Boolean, Int, Int)] = Array(
    (1, 1, 0, 0, false, 0, 0), // 0
    (2, 1, 1, 0, false, 0, 0), // 1
    (1, 0, 0, 0, false, 0, 0), // 2
    (2, 1, 0, 0, false, 0, 0), // 3
    (0, 2, 0, 0, true, -1, -1), // 4
    (1, 1, 1, 0, false, 0, 0), // 5
    (1, 0, 0, 1, false, 0, 0), // 6
    (2, 0, 0, 0, false, 0, 0), // 7
    (0, 1, 0, 0, false, 0, 0), // 8
    (2, 0, 1, 0, false, 0, 0), // 9
    (1, 0, 1, 0, false, 0, 0), // 10
    (1, 0, 1, 1, false, 0, 0), // 11
    (3, 1, 0, 0, false, 0, 0), // 12
    (3, 1, 1, 0, false, 0, 0), // 13
    (11, 2, 0, 0, true, 2, 6), // 14
    (4, 1, 0, 0, false, 0, 0), // 15
    (0, 0, 0, 0, false, 0, 0), // 16
    (6, 0, 1, 0, false, 0, 0), // 17
    (0, 0, 0, 1, false, 0, 0), // 18
    (2, 0, 1, 1, false, 0, 0), // 19
    (7, 0, 0, 1, false, 0, 0), // 20
    (2, 0, 0, 1, false, 0, 0), // 21
    (0, 1, 1, 0, false, 0, 0), // 22
    (6, 0, 0, 1, false, 0, 0), // 23
    (10, 2, 0, 0, true, 1, 5), // 24
    (6, 0, 0, 0, false, 0, 0), // 25
    (3, 0, 0, 0, false, 0, 0), // 26
    (11, 1, 0, 0, false, 0, 0), // 27
    (4, 1, 1, 0, false, 0, 0), // 28
    (3, 0, 1, 0, false, 0, 0), // 29
    (0, 0, 1, 1, false, 0, 0), // 30
    (4, 0, 0, 0, false, 0, 0), // 31
    (5, 0, 1, 0, false, 0, 0), // 32
    (0, 0, 1, 0, false, 0, 0), // 33
    (7, 0, 1, 0, false, 0, 0), // 34
    (11, 1, 1, 0, false, 0, 0), // 35
    (7, 0, 0, 0, false, 0, 0), // 36
    (10, 1, 0, 0, false, 0, 0), // 37
    (12, 2, 0, 0, true, 3, 7), // 38
    (6, 1, 0, 1, false, 0, 0), // 39
    (7, 1, 0, 1, false, 0, 0), // 40
    (4, 0, 0, 1, false, 0, 0), // 41
    (3, 0, 0, 1, false, 0, 0), // 42
    (3, 0, 1, 1, false, 0, 0), // 43
    (4, 0, 1, 0, false, 0, 0), // 44
    (6, 1, 0, 0, false, 0, 0), // 45
    (11, 0, 0, 0, false, 0, 0), // 46
    (8, 0, 0, 1, false, 0, 0), // 47
    (5, 0, 0, 1, false, 0, 0), // 48
    (14, 2, 0, 0, true, 0, 9), // 49
    (5, 0, 0, 0, false, 0, 0), // 50
    (12, 1, 0, 0, false, 0, 0), // 51
    (10, 1, 1, 0, false, 0, 0), // 52
    (4, 0, 1, 1, false, 0, 0), // 53
    (12, 1, 1, 0, false, 0, 0), // 54
    (7, 1, 0, 0, false, 0, 0), // 55
    (11, 0, 1, 0, false, 0, 0), // 56
    (10, 0, 0, 0, false, 0, 0), // 57
    (13, 2, 0, 0, true, 4, 8), // 58
    (10, 0, 0, 1, false, 0, 0), // 59
    (11, 0, 0, 1, false, 0, 0), // 60
    (9, 0, 1, 0, false, 0, 0), // 61
    (8, 0, 1, 0, false, 0, 0), // 62
    (6, 2, 0, 0, true, 11, 15), // 63
    (8, 0, 0, 0, false, 0, 0), // 64
    (9, 0, 0, 1, false, 0, 0), // 65
    (14, 1, 0, 0, false, 0, 0), // 66
    (5, 1, 0, 1, false, 0, 0), // 67
    (16, 0, 1, 1, false, 0, 0), // 68
    (8, 1, 0, 1, false, 0, 0), // 69
    (5, 1, 0, 0, false, 0, 0), // 70
    (12, 0, 0, 0, false, 0, 0), // 71
    (7, 2, 0, 0, true, 12, 16), // 72
    (12, 0, 1, 0, false, 0, 0), // 73
    (10, 0, 1, 0, false, 0, 0), // 74
    (9, 0, 0, 0, false, 0, 0), // 75
    (13, 1, 0, 0, false, 0, 0), // 76
    (16, 0, 0, 1, false, 0, 0), // 77
    (15, 0, 1, 1, false, 0, 0), // 78
    (15, 0, 1, 0, false, 0, 0), // 79
    (16, 0, 1, 0, false, 0, 0), // 80
    (14, 1, 1, 0, false, 0, 0), // 81
    (13, 1, 1, 0, false, 0, 0), // 82
    (5, 2, 0, 0, true, 10, 19), // 83
    (8, 1, 0, 0, false, 0, 0), // 84
    (14, 0, 0, 0, false, 0, 0), // 85
    (9, 1, 0, 1, false, 0, 0), // 86
    (14, 0, 0, 1, false, 0, 0), // 87
    (17, 0, 0, 1, false, 0, 0), // 88
    (12, 0, 0, 1, false, 0, 0), // 89
    (16, 0, 0, 0, false, 0, 0), // 90
    (17, 0, 1, 1, false, 0, 0), // 91
    (15, 0, 0, 1, false, 0, 0), // 92
    (16, 1, 0, 1, false, 0, 0), // 93
    (9, 1, 0, 0, false, 0, 0), // 94
    (15, 0, 0, 0, false, 0, 0), // 95
    (13, 0, 0, 0, false, 0, 0), // 96
    (8, 2, 0, 0, true, 13, 17), // 97
    (13, 0, 1, 0, false, 0, 0), // 98
    (17, 1, 0, 1, false, 0, 0), // 99
    (19, 0, 1, 0, false, 0, 0), // 100
    (14, 0, 1, 0, false, 0, 0), // 101
    (19, 0, 1, 1, false, 0, 0), // 102
    (17, 0, 1, 0, false, 0, 0), // 103
    (13, 0, 0, 1, false, 0, 0), // 104
    (17, 0, 0, 0, false, 0, 0), // 105
    (16, 1, 0, 0, false, 0, 0), // 106
    (9, 2, 0, 0, true, 14, 18), // 107
    (15, 1, 0, 1, false, 0, 0), // 108
    (15, 1, 0, 0, false, 0, 0), // 109
    (18, 0, 1, 1, false, 0, 0), // 110
    (18, 0, 0, 1, false, 0, 0), // 111
    (19, 0, 0, 1, false, 0, 0), // 112
    (17, 1, 0, 0, false, 0, 0), // 113
    (19, 0, 0, 0, false, 0, 0), // 114
    (18, 0, 1, 0, false, 0, 0), // 115
    (18, 1, 0, 1, false, 0, 0), // 116
    (19, 2, 0, 0, true, -1, -1), // 117
    (19, 1, 0, 0, false, 0, 0), // 118
    (18, 0, 0, 0, false, 0, 0), // 119
    (19, 1, 0, 1, false, 0, 0), // 120
    (18, 1, 0, 0, false, 0, 0)) // 121

  /** Face neighbors across each quadrant edge: (face, i, j, k translate,
    * ccwRot60) for quadrants [central, IJ, KI, JK]. */
  private val faceNeighbors: Array[Array[(Int, Int, Int, Int, Int)]] = {
    // cap faces (0-4, 15-19): ij translate {2,0,2}, ki {2,2,0};
    // middle-band faces (5-14): the two are swapped. jk is always {0,2,2}.
    def cap(ij: (Int, Int), ki: (Int, Int), jk: (Int, Int)): Array[(Int, Int, Int, Int, Int)] =
      Array((0, 0, 0, 0, 0),
        (ij._1, 2, 0, 2, ij._2),
        (ki._1, 2, 2, 0, ki._2),
        (jk._1, 0, 2, 2, jk._2))
    def mid(ij: (Int, Int), ki: (Int, Int), jk: (Int, Int)): Array[(Int, Int, Int, Int, Int)] =
      Array((0, 0, 0, 0, 0),
        (ij._1, 2, 2, 0, ij._2),
        (ki._1, 2, 0, 2, ki._2),
        (jk._1, 0, 2, 2, jk._2))
    Array(
      cap((4, 1), (1, 5), (5, 3)), // face 0
      cap((0, 1), (2, 5), (6, 3)), // face 1
      cap((1, 1), (3, 5), (7, 3)), // face 2
      cap((2, 1), (4, 5), (8, 3)), // face 3
      cap((3, 1), (0, 5), (9, 3)), // face 4
      mid((10, 3), (14, 3), (0, 3)), // face 5
      mid((11, 3), (10, 3), (1, 3)), // face 6
      mid((12, 3), (11, 3), (2, 3)), // face 7
      mid((13, 3), (12, 3), (3, 3)), // face 8
      mid((14, 3), (13, 3), (4, 3)), // face 9
      mid((5, 3), (6, 3), (15, 3)), // face 10
      mid((6, 3), (7, 3), (16, 3)), // face 11
      mid((7, 3), (8, 3), (17, 3)), // face 12
      mid((8, 3), (9, 3), (18, 3)), // face 13
      mid((9, 3), (5, 3), (19, 3)), // face 14
      cap((16, 1), (19, 5), (10, 3)), // face 15
      cap((17, 1), (15, 5), (11, 3)), // face 16
      cap((18, 1), (16, 5), (12, 3)), // face 17
      cap((19, 1), (17, 5), (13, 3)), // face 18
      cap((15, 1), (18, 5), (14, 3))) // face 19
  }
  private val maxDimByCIIres =
    Array(2, -1, 14, -1, 98, -1, 686, -1, 4802, -1, 33614, -1, 235298, -1,
      1647086, -1, 11529602)
  private val unitScaleByCIIres =
    Array(1, -1, 7, -1, 49, -1, 343, -1, 2401, -1, 16807, -1, 117649, -1,
      823543, -1, 5764801)

  def isPentagonBase(bc: Int): Boolean = baseCellData(bc)._5
  private def isCwOffset(bc: Int, face: Int): Boolean =
    baseCellData(bc)._6 == face || baseCellData(bc)._7 == face

  // ---------------------------------------------------------------- //
  // CoordIJK
  // ---------------------------------------------------------------- //
  final case class IJK(i: Int, j: Int, k: Int) {
    def +(o: IJK): IJK = IJK(i + o.i, j + o.j, k + o.k)
    def -(o: IJK): IJK = IJK(i - o.i, j - o.j, k - o.k)
    def *(s: Int): IJK = IJK(i * s, j * s, k * s)
  }

  val unitVecs: Array[IJK] = Array(
    IJK(0, 0, 0), IJK(0, 0, 1), IJK(0, 1, 0), IJK(0, 1, 1),
    IJK(1, 0, 0), IJK(1, 0, 1), IJK(1, 1, 0))

  def normalize(c0: IJK): IJK = {
    var (i, j, k) = (c0.i, c0.j, c0.k)
    if (i < 0) { j -= i; k -= i; i = 0 }
    if (j < 0) { i -= j; k -= j; j = 0 }
    if (k < 0) { i -= k; j -= k; k = 0 }
    val m = math.min(i, math.min(j, k))
    if (m > 0) { i -= m; j -= m; k -= m }
    IJK(i, j, k)
  }

  def unitIjkToDigit(c: IJK): Int = {
    val n = normalize(c)
    val d = unitVecs.indexOf(n)
    if (d < 0) InvalidDigit else d
  }

  def upAp7(c: IJK): IJK = {
    val i = c.i - c.k; val j = c.j - c.k
    normalize(IJK(
      math.round((3 * i - j) / 7.0).toInt,
      math.round((i + 2 * j) / 7.0).toInt, 0))
  }
  def upAp7r(c: IJK): IJK = {
    val i = c.i - c.k; val j = c.j - c.k
    normalize(IJK(
      math.round((2 * i + j) / 7.0).toInt,
      math.round((3 * j - i) / 7.0).toInt, 0))
  }
  def downAp7(c: IJK): IJK =
    normalize(IJK(3, 0, 1) * c.i + IJK(1, 3, 0) * c.j + IJK(0, 1, 3) * c.k)
  def downAp7r(c: IJK): IJK =
    normalize(IJK(3, 1, 0) * c.i + IJK(0, 3, 1) * c.j + IJK(1, 0, 3) * c.k)
  def neighbor(c: IJK, digit: Int): IJK =
    if (digit == CenterDigit) c else normalize(c + unitVecs(digit))
  def rotate60ccw(c: IJK): IJK =
    normalize(IJK(1, 1, 0) * c.i + IJK(0, 1, 1) * c.j + IJK(1, 0, 1) * c.k)
  def rotate60cw(c: IJK): IJK =
    normalize(IJK(1, 0, 1) * c.i + IJK(1, 1, 0) * c.j + IJK(0, 1, 1) * c.k)

  def rotDigit60ccw(d: Int): Int = d match {
    case KDigit => IKDigit
    case IKDigit => IDigit
    case IDigit => IJDigit
    case IJDigit => JDigit
    case JDigit => JKDigit
    case JKDigit => KDigit
    case other => other
  }
  def rotDigit60cw(d: Int): Int = d match {
    case KDigit => JKDigit
    case JKDigit => JDigit
    case JDigit => IJDigit
    case IJDigit => IDigit
    case IDigit => IKDigit
    case IKDigit => KDigit
    case other => other
  }

  // ---------------------------------------------------------------- //
  // hex2d <-> IJK
  // ---------------------------------------------------------------- //
  def ijkToHex2d(c: IJK): (Double, Double) = {
    val i = c.i - c.k; val j = c.j - c.k
    (i - 0.5 * j, j * Sin60)
  }

  def hex2dToIJK(x: Double, y: Double): IJK = {
    val a1 = math.abs(x); val a2 = math.abs(y)
    val x2 = a2 / Sin60
    val x1 = a1 + x2 / 2.0
    val m1 = x1.toInt; val m2 = x2.toInt
    val r1 = x1 - m1; val r2 = x2 - m2
    var i = 0; var j = 0
    if (r1 < 0.5) {
      if (r1 < 1.0 / 3.0) {
        if (r2 < (1.0 + r1) / 2.0) { i = m1; j = m2 }
        else { i = m1; j = m2 + 1 }
      } else {
        j = if (r2 < (1.0 - r1)) m2 else m2 + 1
        i = if ((1.0 - r1) <= r2 && r2 < (2.0 * r1 - 1.0)) m1 + 1 else m1
      }
    } else {
      if (r1 < 2.0 / 3.0) {
        j = if (r2 < (1.0 - r1)) m2 else m2 + 1
        i = if ((2.0 * r1 - 1.0) < r2 && r2 < (1.0 - r1)) m1 else m1 + 1
      } else {
        if (r2 < (r1 / 2.0)) { i = m1 + 1; j = m2 }
        else { i = m1 + 1; j = m2 + 1 }
      }
    }
    // fold across the axes if the input was negative
    if (x < 0.0) {
      if (j % 2 == 0) { val axisI = j / 2; val diff = i - axisI; i = i - 2 * diff }
      else { val axisI = (j + 1) / 2; val diff = i - axisI; i = i - (2 * diff + 1) }
    }
    if (y < 0.0) { i = i - (2 * j + 1) / 2; j = -j }
    normalize(IJK(i, j, 0))
  }

  // ---------------------------------------------------------------- //
  // spherical helpers
  // ---------------------------------------------------------------- //
  private def posAngle(a: Double): Double = {
    val twoPi = 2.0 * math.Pi
    var r = a % twoPi
    if (r < 0) r += twoPi
    r
  }

  /** Azimuth (radians) from p1 to p2, both (lat, lon) radians. */
  private def geoAzimuth(lat1: Double, lon1: Double, lat2: Double, lon2: Double): Double =
    math.atan2(
      math.cos(lat2) * math.sin(lon2 - lon1),
      math.cos(lat1) * math.sin(lat2) -
        math.sin(lat1) * math.cos(lat2) * math.cos(lon2 - lon1))

  private def geoDistRads(lat1: Double, lon1: Double, lat2: Double, lon2: Double): Double = {
    val sl = math.sin((lat2 - lat1) / 2.0)
    val so = math.sin((lon2 - lon1) / 2.0)
    val a = sl * sl + math.cos(lat1) * math.cos(lat2) * so * so
    2.0 * math.asin(math.min(1.0, math.sqrt(a)))
  }

  /** Destination point at azimuth az and angular distance r from p. */
  private def geoAzDistance(lat: Double, lon: Double, az0: Double, r: Double): (Double, Double) = {
    if (r < EpsilonRad) return (lat, lon)
    val az = posAngle(az0)
    if (az < EpsilonRad || math.abs(az - math.Pi) < EpsilonRad) {
      // due north or south
      val lat2 = if (az < EpsilonRad) lat + r else lat - r
      if (math.abs(lat2 - math.Pi / 2) < EpsilonRad) (math.Pi / 2, 0.0)
      else if (math.abs(lat2 + math.Pi / 2) < EpsilonRad) (-math.Pi / 2, 0.0)
      else (lat2, constrainLng(lon))
    } else {
      val sinLat2 = math.sin(lat) * math.cos(r) + math.cos(lat) * math.sin(r) * math.cos(az)
      val lat2 = math.asin(math.max(-1.0, math.min(1.0, sinLat2)))
      if (math.abs(lat2 - math.Pi / 2) < EpsilonRad) (math.Pi / 2, 0.0)
      else if (math.abs(lat2 + math.Pi / 2) < EpsilonRad) (-math.Pi / 2, 0.0)
      else {
        val sinLon = math.sin(az) * math.sin(r) / math.cos(lat2)
        val cosLon = (math.cos(r) - math.sin(lat) * math.sin(lat2)) /
          (math.cos(lat) * math.cos(lat2))
        val lon2 = lon + math.atan2(
          math.max(-1.0, math.min(1.0, sinLon)),
          math.max(-1.0, math.min(1.0, cosLon)))
        (lat2, constrainLng(lon2))
      }
    }
  }

  private def constrainLng(lng0: Double): Double = {
    var lng = lng0
    while (lng > math.Pi) lng -= 2 * math.Pi
    while (lng < -math.Pi) lng += 2 * math.Pi
    lng
  }

  // ---------------------------------------------------------------- //
  // geo <-> face hex2d (gnomonic)
  // ---------------------------------------------------------------- //
  final case class FaceIJK(face: Int, coord: IJK)

  private def latLonToXYZ(lat: Double, lon: Double): (Double, Double, Double) =
    (math.cos(lat) * math.cos(lon), math.cos(lat) * math.sin(lon), math.sin(lat))

  /** Nearest icosahedron face to the point + square of 3D distance. */
  private def nearestFace(lat: Double, lon: Double): (Int, Double) = {
    val (x, y, z) = latLonToXYZ(lat, lon)
    var best = 0; var bestSqd = 5.0
    var f = 0
    while (f < 20) {
      val (fLat, fLon) = faceCenterGeo(f)
      val (fx, fy, fz) = latLonToXYZ(fLat, fLon)
      val dx = x - fx; val dy = y - fy; val dz = z - fz
      val sqd = dx * dx + dy * dy + dz * dz
      if (sqd < bestSqd) { best = f; bestSqd = sqd }
      f += 1
    }
    (best, bestSqd)
  }

  /** Point → (face, hex2d coords) at the given resolution. */
  def geoToHex2d(lat: Double, lon: Double, res: Int): (Int, Double, Double) = {
    val (face, sqd) = nearestFace(lat, lon)
    var r = math.acos(1.0 - sqd / 2.0)
    if (r < EpsilonRad) return (face, 0.0, 0.0)
    val (fLat, fLon) = faceCenterGeo(face)
    var theta = posAngle(
      faceAxesAzRadsCII(face)(0) - posAngle(geoAzimuth(fLat, fLon, lat, lon)))
    if (res % 2 == 1) theta = posAngle(theta - Ap7RotRads)
    r = math.tan(r) / Res0UGnomonic
    var i = 0
    while (i < res) { r *= Sqrt7; i += 1 }
    (face, r * math.cos(theta), r * math.sin(theta))
  }

  /** (face, hex2d) at res → point (lat, lon) radians. */
  def hex2dToGeo(face: Int, x: Double, y: Double, res: Int, substrate: Boolean): (Double, Double) = {
    var r = math.sqrt(x * x + y * y)
    val (fLat, fLon) = faceCenterGeo(face)
    if (r < EpsilonRad) return (fLat, fLon)
    var theta = math.atan2(y, x)
    var i = 0
    while (i < res) { r /= Sqrt7; i += 1 }
    if (substrate) {
      r /= 3.0
      if (res % 2 == 1) r /= Sqrt7
    }
    r *= Res0UGnomonic
    r = math.atan(r)
    if (!substrate && res % 2 == 1) theta = posAngle(theta + Ap7RotRads)
    theta = posAngle(faceAxesAzRadsCII(face)(0) - theta)
    geoAzDistance(fLat, fLon, theta, r)
  }

  def geoToFaceIJK(lat: Double, lon: Double, res: Int): FaceIJK = {
    val (face, x, y) = geoToHex2d(lat, lon, res)
    FaceIJK(face, hex2dToIJK(x, y))
  }

  def faceIJKToGeo(fijk: FaceIJK, res: Int): (Double, Double) = {
    val (x, y) = ijkToHex2d(fijk.coord)
    hex2dToGeo(fijk.face, x, y, res, substrate = false)
  }

  // ---------------------------------------------------------------- //
  // derived tables
  // ---------------------------------------------------------------- //

  /** Center of each base cell, (lat, lon) radians — from its home
    * face coordinates. */
  lazy val baseCellCenter: Array[(Double, Double)] =
    (0 until NumBaseCells).map { bc =>
      val (f, i, j, k, _, _, _) = baseCellData(bc)
      faceIJKToGeo(FaceIJK(f, IJK(i, j, k)), 0)
    }.toArray

  /** face → normalized res-0 ijk → (baseCell, ccwRot60): derived by
    * geometric matching — the grid point of (face, ijk) coincides with
    * exactly one base cell center; the rotation is the angle between the
    * cell's +I axis as seen from this face vs from its home face.
    */
  /** Fold an off-triangle res-0 coordinate across the face edge once,
    * mirroring adjustOverage; returns (new face, new ijk, ccw rotations
    * applied by the chart change). */
  private def foldOnce(face: Int, ijk: IJK): (Int, IJK, Int) = {
    val quad =
      if (ijk.k > 0) { if (ijk.j > 0) 3 else 2 }
      else 1
    val (nf, ti, tj, tk, ccw) = faceNeighbors(face)(quad)
    var c = ijk
    var i = 0
    while (i < ccw) { c = rotate60ccw(c); i += 1 }
    (nf, normalize(c + IJK(ti, tj, tk)), ccw)
  }

  /** Resolve (face, res-0 ijk) — possibly beyond the face triangle — to
    * (baseCell, ccwRot60): fold across edges until the coordinate sits on
    * a face triangle, geo-match the grid point to a base cell center
    * (they coincide exactly on-triangle) and measure the frame rotation,
    * composing the chart rotations applied while folding.
    */
  private def resolveBaseCell(face: Int, ijk: IJK): Option[(Int, Int)] = {
    var f = face; var c = ijk; var folds = 0
    var guard = 0
    while (c.i + c.j + c.k > 2 && guard < 5) {
      val (nf, nc, ccw) = foldOnce(f, c)
      f = nf; c = nc; folds += ccw
      guard += 1
    }
    if (c.i + c.j + c.k > 2 || c.i > 2 || c.j > 2 || c.k > 2) return None
    val (lat, lon) = faceIJKToGeo(FaceIJK(f, c), 0)
    var best = -1; var bestD = 10.0
    var bc = 0
    while (bc < NumBaseCells) {
      val (cLat, cLon) = baseCellCenter(bc)
      val d = geoDistRads(lat, lon, cLat, cLon)
      if (d < bestD) { best = bc; bestD = d }
      bc += 1
    }
    if (bestD > 1.0e-6) return None
    Some((best, (measureCcwRot(best, f, c) + folds) % 6))
  }

  /** face → res-0 ijk → (baseCell, ccwRot60), for every coordinate the
    * aggregation in faceIJKToH3 can produce (max single coord 2). */
  lazy val faceIjkBaseCellLookup: Map[(Int, Int, Int, Int), (Int, Int)] = {
    val out = mutable.Map.empty[(Int, Int, Int, Int), (Int, Int)]
    for (face <- 0 until 20; i <- 0 to 2; j <- 0 to 2; k <- 0 to 2) {
      val ijk = IJK(i, j, k)
      if (normalize(ijk) == ijk) // only normalized coords occur in lookups
        resolveBaseCell(face, ijk).foreach(out((face, i, j, k)) = _)
    }
    out.toMap
  }

  /** How many 60° ccw rotations separate cell bc's orientation as seen
    * from `face`/`ijk` (on-triangle, so the chart position IS the cell
    * center) vs its home-face orientation: the angle between the
    * directions to the +I grid neighbor computed in both charts.
    */
  private def measureCcwRot(bc: Int, face: Int, ijk: IJK): Int = {
    val (hf, hi, hj, hk, _, _, _) = baseCellData(bc)
    if (hf == face) return 0
    val (cLat, cLon) = baseCellCenter(bc)
    def azTo(f: Int, c: IJK): Double = {
      // azimuth at the cell center toward its +I neighbor as drawn on face f
      val (nLat, nLon) = faceIJKToGeo(FaceIJK(f, normalize(c + unitVecs(IDigit))), 0)
      geoAzimuth(cLat, cLon, nLat, nLon)
    }
    val azHome = azTo(hf, IJK(hi, hj, hk))
    val azHere = azTo(face, ijk)
    // ccw rotation count from the home frame to this chart
    val diff = posAngle(azHome - azHere)
    math.round(diff / (math.Pi / 3.0)).toInt % 6
  }

  /** Base cell neighbors in each digit direction, and the ccw rotation
    * difference crossing into them — derived from the home-face grid:
    * step one res-0 unit in the direction, then resolve the (possibly
    * off-triangle) landing coordinate exactly like the face lookup.
    */
  lazy val (baseCellNeighborTable, baseCellNeighborRot):
      (Array[Array[Int]], Array[Array[Int]]) = {
    val nbr = Array.fill(NumBaseCells, 7)(InvalidBaseCell)
    val rot = Array.fill(NumBaseCells, 7)(-1)
    for (bc <- 0 until NumBaseCells) {
      val (hf, hi, hj, hk, isPent, _, _) = baseCellData(bc)
      nbr(bc)(0) = bc; rot(bc)(0) = 0
      for (dir <- 1 to 6 if !(isPent && dir == KDigit)) {
        val stepped = normalize(IJK(hi, hj, hk) + unitVecs(dir))
        resolveBaseCell(hf, stepped).foreach { case (nb, r) =>
          nbr(bc)(dir) = nb
          rot(bc)(dir) = r
        }
      }
    }
    // The edge-fold derivation above is exact for hexagon↔hexagon
    // crossings, but folds THROUGH an icosahedron vertex are ambiguous
    // (60° angular defect), so every entry that leaves a pentagon — and
    // the rotation of every entry that enters one — is re-fitted
    // geometrically: construct the res-3 cell in the far `dir` corner of
    // the base cell, step it across the border with each candidate
    // (neighbor, rotation), and keep the unique candidate that lands one
    // grid pitch away. Wrong rotations scramble the digit string and
    // land the index hundreds of cells off, so the fit is unambiguous.
    fitPentagonEntries(nbr, rot)
    (nbr, rot)
  }

  /** One grid-pitch (radians) at res 3, measured inside a hexagon base
    * cell where the digit tables alone define the step. */
  private def res3Pitch(nbr: Array[Array[Int]], rot: Array[Array[Int]]): Double = {
    val h = makeIndex(3, 16) // digits 0,0,0 — center child of bc 16
    val stepped = stepWith(h, IDigit, nbr, rot)
    val (lat1, lon1) = latLonOf(h)
    val (lat2, lon2) = latLonOf(stepped)
    geoDistRads(lat1, lon1, lat2, lon2)
  }

  private def latLonOf(h: Long): (Double, Double) = {
    val fijk = h3ToFaceIJK(h)
    faceIJKToGeo(fijk, resolution(h))
  }

  private def fitPentagonEntries(nbr: Array[Array[Int]], rot: Array[Array[Int]]): Unit = {
    val pitch = res3Pitch(nbr, rot)
    def centerDist(a: Long, b: Long): Double = {
      val (lat1, lon1) = latLonOf(a)
      val (lat2, lon2) = latLonOf(b)
      geoDistRads(lat1, lon1, lat2, lon2)
    }
    // neighbor closure sets for pentagons: cells whose rows point at them
    val pointsAt = Array.fill(NumBaseCells)(mutable.Set.empty[Int])
    for (a <- 0 until NumBaseCells; d <- 1 to 6) {
      val b = nbr(a)(d)
      if (b != InvalidBaseCell && b != a) pointsAt(b) += a
    }
    for (p <- 0 until NumBaseCells if isPentagonBase(p)) {
      val candidates = pointsAt(p).toSeq.sorted
      // 1) fit the pentagon's own outgoing entries (nbr + rot jointly)
      for (dir <- 2 to 6) {
        // the res-3 cell in the far `dir` corner of pentagon p
        var h = makeIndex(3, p)
        for (r <- 1 to 3) h = setDigit(h, r, dir)
        var bestNb = nbr(p)(dir); var bestRot = math.max(rot(p)(dir), 0)
        var bestD = Double.MaxValue
        for (nb <- candidates; rr <- 0 to 5) {
          nbr(p)(dir) = nb; rot(p)(dir) = rr
          val out = stepWith(h, dir, nbr, rot)
          if (out != 0L && out != h && baseCellOf(out) == nb) {
            val d = centerDist(h, out)
            if (d < bestD) { bestD = d; bestNb = nb; bestRot = rr }
          }
        }
        nbr(p)(dir) = bestNb; rot(p)(dir) = bestRot
        require(bestD < pitch * 1.5,
          s"pentagon $p dir $dir: no geometric fit (best ${bestD / pitch} pitches)")
      }
      // 2) re-fit the rotation of every entry pointing INTO the pentagon
      for (x <- candidates; d <- 1 to 6 if nbr(x)(d) == p) {
        var h = makeIndex(3, x)
        for (r <- 1 to 3) h = setDigit(h, r, d)
        var bestRot = rot(x)(d); var bestD = Double.MaxValue
        for (rr <- 0 to 5) {
          rot(x)(d) = rr
          val out = stepWith(h, d, nbr, rot)
          if (out != 0L && out != h && baseCellOf(out) == p) {
            val dd = centerDist(h, out)
            if (dd < bestD) { bestD = dd; bestRot = rr }
          }
        }
        rot(x)(d) = bestRot
        require(bestD < pitch * 1.5,
          s"entry $x dir $d into pentagon $p: no geometric fit")
      }
    }
  }

  /** neighborRotations against explicitly-passed tables (used while the
    * lazy tables are being fitted). */
  private def stepWith(origin: Long, dir0: Int,
      nbrT: Array[Array[Int]], rotT: Array[Array[Int]]): Long =
    neighborStep(origin, dir0, nbrT, rotT)

  // ---------------------------------------------------------------- //
  // H3 index bit helpers (mirrors GeoGrid.H3 layout)
  // ---------------------------------------------------------------- //
  private val ModeCell = 1L
  def makeIndex(res: Int, baseCell: Int): Long = {
    var h = (ModeCell << 59) | (res.toLong << 52) | (baseCell.toLong << 45)
    h |= (1L << (3 * (MaxRes - res))) - 1 // unused digits = 7
    h
  }
  def resolution(h: Long): Int = ((h >>> 52) & 0xFL).toInt
  def baseCellOf(h: Long): Int = ((h >>> 45) & 0x7FL).toInt
  def getDigit(h: Long, r: Int): Int = ((h >>> (3 * (MaxRes - r))) & 7L).toInt
  def setDigit(h: Long, r: Int, d: Int): Long = {
    val shift = 3 * (MaxRes - r)
    (h & ~(7L << shift)) | (d.toLong << shift)
  }
  private def setBaseCell(h: Long, bc: Int): Long =
    (h & ~(0x7FL << 45)) | (bc.toLong << 45)

  def leadingNonZeroDigit(h: Long): Int = {
    val res = resolution(h)
    var r = 1
    while (r <= res) {
      val d = getDigit(h, r)
      if (d != 0) return d
      r += 1
    }
    CenterDigit
  }

  def rotate60ccwIndex(h0: Long): Long = {
    var h = h0
    val res = resolution(h)
    var r = 1
    while (r <= res) { h = setDigit(h, r, rotDigit60ccw(getDigit(h, r))); r += 1 }
    h
  }
  def rotate60cwIndex(h0: Long): Long = {
    var h = h0
    val res = resolution(h)
    var r = 1
    while (r <= res) { h = setDigit(h, r, rotDigit60cw(getDigit(h, r))); r += 1 }
    h
  }
  def rotatePent60ccwIndex(h0: Long): Long = {
    var h = h0
    val res = resolution(h)
    var foundFirst = false
    var r = 1
    while (r <= res) {
      h = setDigit(h, r, rotDigit60ccw(getDigit(h, r)))
      if (!foundFirst && getDigit(h, r) != 0) {
        foundFirst = true
        if (leadingNonZeroDigit(h) == KDigit) h = rotate60ccwIndex(h)
      }
      r += 1
    }
    h
  }
  def rotatePent60cwIndex(h0: Long): Long = {
    var h = h0
    val res = resolution(h)
    var foundFirst = false
    var r = 1
    while (r <= res) {
      h = setDigit(h, r, rotDigit60cw(getDigit(h, r)))
      if (!foundFirst && getDigit(h, r) != 0) {
        foundFirst = true
        if (leadingNonZeroDigit(h) == KDigit) h = rotate60cwIndex(h)
      }
      r += 1
    }
    h
  }

  // ---------------------------------------------------------------- //
  // FaceIJK -> H3 and back
  // ---------------------------------------------------------------- //
  def faceIJKToH3(fijk0: FaceIJK, res: Int): Long = {
    if (res == 0) {
      val c = fijk0.coord
      if (c.i > 2 || c.j > 2 || c.k > 2) return 0L
      return faceIjkBaseCellLookup.get((fijk0.face, c.i, c.j, c.k))
        .map { case (bc, _) => makeIndex(0, bc) }.getOrElse(0L)
    }
    var h = makeIndex(res, 0)
    var ijk = fijk0.coord
    var r = res
    while (r > 0) {
      val last = ijk
      var lastCenter = IJK(0, 0, 0)
      if (r % 2 == 1) { // class III
        ijk = upAp7(ijk)
        lastCenter = downAp7(ijk)
      } else {
        ijk = upAp7r(ijk)
        lastCenter = downAp7r(ijk)
      }
      val diff = normalize(last - lastCenter)
      val d = unitIjkToDigit(diff)
      if (d == InvalidDigit) return 0L
      h = setDigit(h, r, d)
      r -= 1
    }
    if (ijk.i > 2 || ijk.j > 2 || ijk.k > 2) return 0L
    val lk = faceIjkBaseCellLookup.get((fijk0.face, ijk.i, ijk.j, ijk.k))
    if (lk.isEmpty) return 0L
    val (bc, numRots) = lk.get
    h = setBaseCell(h, bc)
    if (isPentagonBase(bc)) {
      if (leadingNonZeroDigit(h) == KDigit) {
        h = if (isCwOffset(bc, fijk0.face)) rotate60cwIndex(h)
        else rotate60ccwIndex(h)
      }
      var i = 0
      while (i < numRots) { h = rotatePent60ccwIndex(h); i += 1 }
    } else {
      var i = 0
      while (i < numRots) { h = rotate60ccwIndex(h); i += 1 }
    }
    h
  }

  /** Overage adjustment: (overageKind, adjusted FaceIJK); kind 0 = none,
    * 1 = on face edge (substrate only), 2 = moved to new face. */
  def adjustOverage(fijk: FaceIJK, res: Int, pentLeading4: Boolean,
      substrate: Boolean): (Int, FaceIJK) = {
    var maxDim = maxDimByCIIres(res)
    if (substrate) maxDim *= 3
    val c = fijk.coord
    val sum = c.i + c.j + c.k
    if (substrate && sum == maxDim) return (1, fijk)
    if (sum <= maxDim) return (0, fijk)
    // overage: pick the quadrant
    var coord = c
    val quad =
      if (coord.k > 0) { if (coord.j > 0) 3 /* JK */ else 2 /* KI */ }
      else 1 /* IJ */
    if (quad == 2 && pentLeading4) {
      // rotate out of the deleted k subsequence before crossing
      val origin = IJK(maxDim, 0, 0)
      coord = normalize(rotate60cw(coord - origin) + origin)
    }
    val (nf, ti, tj, tk, ccw) = faceNeighbors(fijk.face)(quad)
    var newCoord = coord
    var i = 0
    while (i < ccw) { newCoord = rotate60ccw(newCoord); i += 1 }
    val scale = unitScaleByCIIres(res) * (if (substrate) 3 else 1)
    newCoord = normalize(newCoord + IJK(ti, tj, tk) * scale)
    val out = FaceIJK(nf, newCoord)
    if (substrate && newCoord.i + newCoord.j + newCoord.k == maxDim) (1, out)
    else (2, out)
  }

  def h3ToFaceIJK(h0: Long): FaceIJK = {
    var h = h0
    val bc = baseCellOf(h)
    if (isPentagonBase(bc) && leadingNonZeroDigit(h) == IKDigit)
      h = rotate60cwIndex(h)
    val (hf, hi, hj, hk, _, _, _) = baseCellData(bc)
    var fijk = FaceIJK(hf, IJK(hi, hj, hk))
    val res0 = resolution(h)
    var r = 1
    while (r <= res0) {
      fijk = FaceIJK(fijk.face,
        if (r % 2 == 1) downAp7(fijk.coord) else downAp7r(fijk.coord))
      fijk = FaceIJK(fijk.face, neighbor(fijk.coord, getDigit(h, r)))
      r += 1
    }
    val orig = fijk.coord
    var res = res0
    if (res % 2 == 1) { fijk = FaceIJK(fijk.face, downAp7r(fijk.coord)); res += 1 }
    val pentLeading4 = isPentagonBase(bc) && leadingNonZeroDigit(h) == IDigit
    val (kind, adj) = adjustOverage(fijk, res, pentLeading4, substrate = false)
    if (kind != 0) {
      fijk = adj
      if (isPentagonBase(bc)) {
        var cont = true
        while (cont) {
          val (k2, a2) = adjustOverage(fijk, res, pentLeading4 = false, substrate = false)
          if (k2 == 0) cont = false else fijk = a2
        }
      }
      if (res != res0) fijk = FaceIJK(fijk.face, upAp7r(fijk.coord))
    } else if (res != res0) {
      fijk = FaceIJK(fijk.face, orig)
    }
    fijk
  }

  // ---------------------------------------------------------------- //
  // public: geoToH3 / h3ToGeo
  // ---------------------------------------------------------------- //

  /** Degrees in, reference argument order (lon, lat, res). */
  def geoToH3(lonDeg: Double, latDeg: Double, res: Int): Long = {
    require(res >= 0 && res <= MaxRes, s"geoToH3: resolution $res out of range [0, 15]")
    val lat = math.toRadians(latDeg)
    val lon = math.toRadians(lonDeg)
    faceIJKToH3(geoToFaceIJK(lat, lon, res), res)
  }

  /** Cell center, degrees out as (lon, lat) — the reference's tuple order. */
  def h3ToGeo(h: Long): (Double, Double) = {
    val fijk = h3ToFaceIJK(h)
    val (lat, lon) = faceIJKToGeo(fijk, resolution(h))
    (math.toDegrees(lon), math.toDegrees(lat))
  }

  // ---------------------------------------------------------------- //
  // grid traversal: neighbor step, kRing, hexRing
  // ---------------------------------------------------------------- //

  /** NEW_DIGIT / NEW_ADJUSTMENT tables, derived from aperture-7 coords:
    * moving from the child in position `d` (of its parent) one step in
    * direction `dir` lands on the child in position newDigit of the
    * parent displaced by newAdjustment. Index [classIIIRes][d][dir].
    */
  private lazy val (newDigit, newAdjustment): (Array[Array[Array[Int]]], Array[Array[Array[Int]]]) = {
    val nd = Array.fill(2, 7, 7)(0)
    val na = Array.fill(2, 7, 7)(0)
    for (cls <- 0 to 1; d <- 0 to 6; dir <- 0 to 6) {
      val moved = normalize(unitVecs(d) + unitVecs(dir))
      val adj = if (cls == 1) upAp7(moved) else upAp7r(moved)
      val center = if (cls == 1) downAp7(adj) else downAp7r(adj)
      nd(cls)(d)(dir) = unitIjkToDigit(normalize(moved - center))
      na(cls)(d)(dir) = unitIjkToDigit(adj)
    }
    (nd, na)
  }

  /** Step one cell in `dir` (digit space), tracking frame rotations.
    * Returns 0 for the undefined K step off a pentagon center.
    * Mirrors the published h3NeighborRotations algorithm.
    */
  def neighborRotations(origin: Long, dir0: Int, rotations0: Int): (Long, Int) = {
    var dir = dir0
    var i = 0
    while (i < rotations0) { dir = rotDigit60ccw(dir); i += 1 }
    (neighborStep(origin, dir, baseCellNeighborTable, baseCellNeighborRot),
      rotations0)
  }

  /** The digit-space single step (published h3NeighborRotations shape)
    * against caller-supplied base-cell tables. Rotation bookkeeping for
    * multi-step walks is not tracked — every caller here restarts from
    * direction digits, which is orientation-independent. */
  private def neighborStep(origin: Long, dir1: Int,
      baseCellNeighborTable: Array[Array[Int]],
      baseCellNeighborRot: Array[Array[Int]]): Long = {
    var out = origin
    var dir = dir1
    var newRotations = 0
    val oldBaseCell = baseCellOf(out)
    val oldLeadingDigit = leadingNonZeroDigit(out)
    var r = resolution(out) - 1
    var done = false
    while (!done) {
      if (r == -1) {
        val nb = baseCellNeighborTable(oldBaseCell)(dir)
        if (nb == InvalidBaseCell) {
          // deleted K vertex: this edge actually crosses into the IK neighbor
          out = setBaseCell(out, baseCellNeighborTable(oldBaseCell)(IKDigit))
          newRotations = baseCellNeighborRot(oldBaseCell)(IKDigit)
          out = rotate60ccwIndex(out)
        } else {
          out = setBaseCell(out, nb)
          newRotations = baseCellNeighborRot(oldBaseCell)(dir)
        }
        done = true
      } else {
        val oldDigit = getDigit(out, r + 1)
        if (oldDigit == InvalidDigit) return 0L
        val cls = if ((r + 1) % 2 == 1) 1 else 0
        out = setDigit(out, r + 1, newDigit(cls)(oldDigit)(dir))
        val nextDir = newAdjustment(cls)(oldDigit)(dir)
        if (nextDir != CenterDigit) { dir = nextDir; r -= 1 }
        else done = true
      }
    }
    val newBaseCell = baseCellOf(out)
    if (isPentagonBase(newBaseCell)) {
      var alreadyAdjustedKSubsequence = false
      if (leadingNonZeroDigit(out) == KDigit) {
        if (oldBaseCell != newBaseCell) {
          // traversed into the deleted K subsequence of a pentagon
          out =
            if (isCwOffset(newBaseCell, baseCellData(oldBaseCell)._1))
              rotate60cwIndex(out)
            else rotate60ccwIndex(out)
          alreadyAdjustedKSubsequence = true
        } else {
          if (oldLeadingDigit == CenterDigit) return 0L // undefined
          else if (oldLeadingDigit == JKDigit) out = rotate60ccwIndex(out)
          else if (oldLeadingDigit == IKDigit) out = rotate60cwIndex(out)
          else return 0L
        }
      }
      var j = 0
      while (j < newRotations) { out = rotatePent60ccwIndex(out); j += 1 }
    } else {
      var j = 0
      while (j < newRotations) { out = rotate60ccwIndex(out); j += 1 }
    }
    out
  }

  /** All cells within grid distance k (BFS — safe for pentagons). */
  def kRing(origin: Long, k: Int): Array[Long] =
    kRingDistances(origin, k).keys.toArray

  def kRingDistances(origin: Long, k: Int): Map[Long, Int] = {
    require(k >= 0, s"kRing: k must be >= 0, got $k")
    val dist = mutable.Map(origin -> 0)
    var frontier = List(origin)
    var d = 0
    while (d < k && frontier.nonEmpty) {
      val next = mutable.ListBuffer.empty[Long]
      for (cell <- frontier; dir <- 1 to 6) {
        val (nb, _) = neighborRotations(cell, dir, 0)
        if (nb != 0L && !dist.contains(nb)) {
          dist(nb) = d + 1
          next += nb
        }
      }
      frontier = next.toList
      d += 1
    }
    dist.toMap
  }

  /** The hollow ring at exactly distance k. */
  def hexRing(origin: Long, k: Int): Array[Long] =
    kRingDistances(origin, k).collect { case (c, d) if d == k => c }.toArray

  /** True if the cells are grid neighbors. */
  def areNeighbors(a: Long, b: Long): Boolean = {
    if (a == b) return false
    if (resolution(a) != resolution(b)) return false
    (1 to 6).exists(dir => neighborRotations(a, dir, 0)._1 == b)
  }

  // ---------------------------------------------------------------- //
  // grid distance / line (BFS-based; exact for the distances the
  // reference's tests exercise, returns -1 when unreachable within the
  // search budget like the reference errors on distant cells)
  // ---------------------------------------------------------------- //

  def gridDistance(a: Long, b: Long, maxK: Int = 64): Int = {
    if (a == b) return 0
    if (resolution(a) != resolution(b)) return -1
    // bidirectional-ish BFS from a until b found or budget exhausted
    val dist = mutable.Map(a -> 0)
    var frontier = List(a)
    var d = 0
    while (d < maxK && frontier.nonEmpty) {
      val next = mutable.ListBuffer.empty[Long]
      for (cell <- frontier; dir <- 1 to 6) {
        val (nb, _) = neighborRotations(cell, dir, 0)
        if (nb != 0L && !dist.contains(nb)) {
          if (nb == b) return d + 1
          dist(nb) = d + 1
          next += nb
        }
      }
      frontier = next.toList
      d += 1
    }
    -1
  }

  /** Cell sequence from a to b: a shortest grid path found by BFS
    * parent-tracking, tie-broken by straight-line proximity to the
    * great-circle chord (the published h3Line follows the IJK-space
    * straight line; proximity tie-breaking reproduces it on the
    * non-degenerate paths the reference tests).
    */
  def h3Line(a: Long, b: Long, maxK: Int = 64): Array[Long] = {
    if (a == b) return Array(a)
    val n = gridDistance(a, b, maxK)
    if (n < 0) return Array.empty
    val (aLon, aLat) = h3ToGeo(a)
    val (bLon, bLat) = h3ToGeo(b)
    // walk greedily: at step s of n, among neighbors that reduce the
    // remaining grid distance, pick the one closest to the interpolated
    // point s/n along the chord
    val out = mutable.ArrayBuffer(a)
    var cur = a
    var s = 0
    while (cur != b && s < n) {
      s += 1
      val t = s.toDouble / n
      val tLat = aLat + (bLat - aLat) * t
      val tLon = aLon + (bLon - aLon) * t
      val cands = (1 to 6).flatMap { dir =>
        val (nb, _) = neighborRotations(cur, dir, 0)
        if (nb == 0L) None
        else {
          val rem = gridDistance(nb, b, maxK)
          if (rem >= 0 && rem == n - s) {
            val (nLon, nLat) = h3ToGeo(nb)
            val dLat = nLat - tLat; val dLon = nLon - tLon
            Some((nb, dLat * dLat + dLon * dLon))
          } else None
        }
      }
      if (cands.isEmpty) return out.toArray // should not happen
      cur = cands.minBy(_._2)._1
      out += cur
    }
    out.toArray
  }

  // ---------------------------------------------------------------- //
  // cell boundary (published _faceIjkToCellBoundary shape): the cell's
  // vertices live on an aperture 3-3r substrate grid (plus a 7r step for
  // Class III); each vertex folds onto its own face, and a Class III
  // cell edge that crosses an icosahedron edge gains the intersection
  // point as an extra boundary vertex.
  // ---------------------------------------------------------------- //
  def downAp3(c: IJK): IJK =
    normalize(IJK(2, 0, 1) * c.i + IJK(1, 2, 0) * c.j + IJK(0, 1, 2) * c.k)
  def downAp3r(c: IJK): IJK =
    normalize(IJK(2, 1, 0) * c.i + IJK(0, 2, 1) * c.j + IJK(1, 0, 2) * c.k)

  private val vertsCII = Array(IJK(2, 1, 0), IJK(1, 2, 0), IJK(0, 2, 1),
    IJK(0, 1, 2), IJK(1, 0, 2), IJK(2, 0, 1))
  private val vertsCIII = Array(IJK(5, 4, 0), IJK(1, 5, 0), IJK(0, 5, 4),
    IJK(0, 1, 5), IJK(4, 0, 5), IJK(5, 0, 1))

  /** face pair → quadrant (1=IJ, 2=KI, 3=JK), inverted from the
    * faceNeighbors table. */
  private lazy val adjacentFaceDir: Map[(Int, Int), Int] =
    (for (f <- 0 until 20; q <- 1 to 3)
      yield (f, faceNeighbors(f)(q)._1) -> q).toMap

  /** Substrate center + adjusted res + the (pentagon: 5) 6 vertex
    * coordinates of the cell, all on the home-face substrate grid. */
  private def faceIjkToVerts(fijk: FaceIJK, res: Int, pent: Boolean): (FaceIJK, Int, Array[FaceIJK]) = {
    var coord = fijk.coord
    coord = downAp3(coord)
    coord = downAp3r(coord)
    var adjRes = res
    if (res % 2 == 1) { coord = downAp7r(coord); adjRes += 1 }
    val table = if (res % 2 == 1) vertsCIII else vertsCII
    val n = if (pent) 5 else 6
    val verts = (0 until n).map(v =>
      FaceIJK(fijk.face, normalize(coord + table(v)))).toArray
    (FaceIJK(fijk.face, coord), adjRes, verts)
  }

  /** Cell boundary vertices, (lat, lon) radians, `start`/`length` over
    * the canonical vertex numbering (full cell: 0, 6). */
  def cellBoundary(h: Long, start: Int, length: Int): Array[(Double, Double)] = {
    val res = resolution(h)
    val fijk0 = h3ToFaceIJK(h)
    val pent = GeoGrid.H3.isPentagon(h)
    if (pent) return pentBoundary(fijk0, res)
    val (centerIJK, adjRes, fijkVerts) = faceIjkToVerts(fijk0, res, pent = false)
    val out = mutable.ArrayBuffer.empty[(Double, Double)]
    val additional = if (length == 6) 1 else 0
    var lastFace = -1
    var lastOverage = 0
    var vert = start
    while (vert < start + length + additional) {
      val v = vert % 6
      var fijk = fijkVerts(v)
      val (overage, adj) = adjustOverage(fijk, adjRes, pentLeading4 = false, substrate = true)
      fijk = adj
      if (res % 2 == 1 && vert > start && fijk.face != lastFace && lastOverage != 1) {
        // the cell edge crossed an icosahedron edge: add the intersection
        val lastV = (v + 5) % 6
        val (x0, y0) = ijkToHex2d(fijkVerts(lastV).coord)
        val (x1, y1) = ijkToHex2d(fijkVerts(v).coord)
        val maxDim = maxDimByCIIres(adjRes).toDouble
        val e0 = (3.0 * maxDim, 0.0)
        val e1 = (-1.5 * maxDim, 3.0 * Sin60 * maxDim)
        val e2 = (-1.5 * maxDim, -3.0 * Sin60 * maxDim)
        val face2 = if (lastFace == centerIJK.face) fijk.face else lastFace
        val (p2, p3) = adjacentFaceDir((centerIJK.face, face2)) match {
          case 1 => (e0, e1) // IJ
          case 3 => (e1, e2) // JK
          case _ => (e2, e0) // KI
        }
        // segment intersection in the center face's hex2d plane
        val s1x = x1 - x0; val s1y = y1 - y0
        val s2x = p3._1 - p2._1; val s2y = p3._2 - p2._2
        val t = (s2x * (y0 - p2._2) - s2y * (x0 - p2._1)) /
          (-s2x * s1y + s1x * s2y)
        val ix = x0 + t * s1x; val iy = y0 + t * s1y
        val atVertex = (math.abs(ix - x0) < 1e-9 && math.abs(iy - y0) < 1e-9) ||
          (math.abs(ix - x1) < 1e-9 && math.abs(iy - y1) < 1e-9)
        if (!atVertex)
          out += hex2dToGeo(centerIJK.face, ix, iy, adjRes, substrate = true)
      }
      if (vert < start + 6) {
        val (x, y) = ijkToHex2d(fijk.coord)
        out += hex2dToGeo(fijk.face, x, y, adjRes, substrate = true)
      }
      lastFace = fijk.face
      lastOverage = overage
      vert += 1
    }
    out.toArray
  }

  /** Pentagon boundary: every vertex folds (possibly repeatedly) onto
    * its face; Class III distortion vertices are added per edge like the
    * hexagon path, using each edge's own face pair. */
  private def pentBoundary(fijk0: FaceIJK, res: Int): Array[(Double, Double)] = {
    val (centerIJK, adjRes, fijkVerts0) = faceIjkToVerts(fijk0, res, pent = true)
    locally(centerIJK)
    val out = mutable.ArrayBuffer.empty[(Double, Double)]
    val adjusted = fijkVerts0.map { fv =>
      var f = fv
      var guard = 0
      var again = true
      while (again && guard < 5) {
        val (ov, adj) = adjustOverage(f, adjRes, pentLeading4 = false, substrate = true)
        f = adj
        again = ov == 2
        guard += 1
      }
      f
    }
    for (v <- 0 until 5) {
      val (x, y) = ijkToHex2d(adjusted(v).coord)
      out += hex2dToGeo(adjusted(v).face, x, y, adjRes, substrate = true)
    }
    out.toArray
  }

  /** h3ToGeoBoundary: degrees, (lat, lon) pairs — the reference's tuple
    * order for boundaries. */
  def cellBoundaryDeg(h: Long): Array[(Double, Double)] =
    cellBoundary(h, 0, 6).map { case (lat, lon) =>
      (math.toDegrees(lat), math.toDegrees(lon)) }

  // ---------------------------------------------------------------- //
  // areas and exact edge lengths
  // ---------------------------------------------------------------- //
  private def distRads(a: (Double, Double), b: (Double, Double)): Double =
    geoDistRads(a._1, a._2, b._1, b._2)

  /** Spherical triangle area via l'Huilier. */
  private def triangleArea(a: (Double, Double), b: (Double, Double),
      c: (Double, Double)): Double = {
    val e1 = distRads(a, b); val e2 = distRads(b, c); val e3 = distRads(c, a)
    val s = (e1 + e2 + e3) / 2
    val t = math.sqrt(math.max(0.0,
      math.tan(s / 2) * math.tan((s - e1) / 2) *
        math.tan((s - e2) / 2) * math.tan((s - e3) / 2)))
    4 * math.atan(t)
  }

  val EarthRadiusKm = 6371.007180918475

  def cellAreaRads2(h: Long): Double = {
    val verts = cellBoundary(h, 0, 6)
    val fijk = h3ToFaceIJK(h)
    val center = faceIJKToGeo(fijk, resolution(h))
    var area = 0.0
    for (i <- verts.indices)
      area += triangleArea(verts(i), verts((i + 1) % verts.length), center)
    area
  }

  // ---------------------------------------------------------------- //
  // unidirectional edges (mode-2 indexes, direction in bits 56-58)
  // ---------------------------------------------------------------- //
  private def edgeMode(h: Long): Int = ((h >>> 59) & 0xFL).toInt
  private def edgeDir(h: Long): Int = ((h >>> 56) & 7L).toInt
  private def withMode(h: Long, m: Int): Long =
    (h & ~(0xFL << 59)) | (m.toLong << 59)
  private def withDir(h: Long, d: Int): Long =
    (h & ~(7L << 56)) | (d.toLong << 56)

  def edgeFromCells(origin: Long, dest: Long): Long = {
    var d = 1
    while (d <= 6) {
      val (nb, _) = neighborRotations(origin, d, 0)
      if (nb == dest && nb != 0L) return withDir(withMode(origin, 2), d)
      d += 1
    }
    0L
  }
  def edgeOrigin(edge: Long): Long =
    if (edgeMode(edge) != 2) 0L else withDir(withMode(edge, 1), 0)
  def edgeDestination(edge: Long): Long = {
    if (edgeMode(edge) != 2) return 0L
    val (nb, _) = neighborRotations(edgeOrigin(edge), edgeDir(edge), 0)
    nb
  }
  def edgeIsValid(edge: Long): Boolean = {
    if (edgeMode(edge) != 2) return false
    val d = edgeDir(edge)
    if (d < 1 || d > 6) return false
    val origin = edgeOrigin(edge)
    if (!GeoGrid.H3.isValid(origin)) return false
    !(isPentagonBase(baseCellOf(origin)) && GeoGrid.H3.isPentagon(origin) && d == KDigit)
  }
  def edgesFromCell(h: Long): Array[Long] =
    (1 to 6).map(d => withDir(withMode(h, 2), d)).toArray

  /** First boundary vertex of the edge shared with the `dir` neighbor
    * (published directionToVertexNum ordering). */
  private val dirToVertexHex = Array(-1, 3, 1, 2, 5, 4, 0)

  def edgeBoundaryDeg(edge: Long): Array[(Double, Double)] = {
    if (edgeMode(edge) != 2) return Array.empty
    val origin = edgeOrigin(edge)
    if (!GeoGrid.H3.isValid(origin)) return Array.empty
    val start = dirToVertexHex(edgeDir(edge))
    if (start < 0) return Array.empty
    cellBoundary(origin, start, 2).map { case (lat, lon) =>
      (math.toDegrees(lat), math.toDegrees(lon)) }
  }

  def exactEdgeLengthRads(edge: Long): Double = {
    if (edgeMode(edge) != 2) return 0.0
    val origin = edgeOrigin(edge)
    if (!GeoGrid.H3.isValid(origin)) return 0.0
    val start = dirToVertexHex(edgeDir(edge))
    if (start < 0) return 0.0
    val verts = cellBoundary(origin, start, 2)
    var len = 0.0
    for (i <- 0 until verts.length - 1) len += distRads(verts(i), verts(i + 1))
    len
  }

  /** Faces a cell intersects (h3GetFaces): the face of the cell center
    * plus faces of its boundary-adjacent neighbors' centers — exact for
    * the published semantics via vertex sampling: take the face of each
    * of the cell's vertices (approximated by midpoints toward each
    * neighbor center, which lie strictly inside the respective faces).
    */
  def getFaces(h: Long): Array[Int] = {
    val faces = mutable.SortedSet(h3ToFaceIJK(h).face)
    val (cLon, cLat) = h3ToGeo(h)
    for (dir <- 1 to 6) {
      val (nb, _) = neighborRotations(h, dir, 0)
      if (nb != 0L) {
        val (nLon, nLat) = h3ToGeo(nb)
        // midpoint toward the neighbor sits on the shared edge
        val mLat = math.toRadians((cLat + nLat) / 2)
        val mLon = math.toRadians((cLon + nLon) / 2)
        faces += nearestFace(mLat, mLon)._1
      }
    }
    faces.toArray
  }
}
