package perfbench

import java.awt.{Color, GradientPaint}
import java.awt.image.BufferedImage
import java.io.ByteArrayOutputStream
import java.util.SplittableRandom

import javax.imageio.{IIOImage, ImageIO, ImageWriteParam}

/** Seeded input generators. Every input of every workload is a pure
  * function of the workload seed (and of an item index, so items can be
  * generated in parallel or regenerated on another thread).
  */
object Gen {
  val Width = 320
  val Height = 180
  val Fps = 12

  /** A deterministic generator for item `i` of stream `stream` under `seed`. */
  def rng(seed: Long, stream: Long, i: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ stream * 0xBF58476D1CE4E5B9L ^
      i * 0x94D049BB133111EBL)

  // ---- images -------------------------------------------------------------

  private final case class Shape(oval: Boolean, x: Int, y: Int, w: Int, h: Int, c: Color)

  /** A synthetic scene: gradient background, 11 static shapes and one
    * large shape that moves across the frame as `t` advances. The
    * background also brightens by 3 levels a frame over a 40-frame cycle,
    * so any two frames less than 40 frames apart differ at every background
    * pixel, whichever pixels a descriptor samples.
    */
  final class Scene(r: SplittableRandom) {
    private def color() = new Color(r.nextInt(256), r.nextInt(256), r.nextInt(256))
    private def dark() = Array.fill(3)(r.nextInt(121))
    private val top = dark()
    private val bottom = dark()
    private val shapes = Array.fill(11) {
      Shape(r.nextBoolean(), r.nextInt(Width) - 20, r.nextInt(Height) - 15,
        30 + r.nextInt(100), 20 + r.nextInt(70), color())
    }
    private val mover = Shape(r.nextBoolean(), r.nextInt(Width), r.nextInt(Height),
      50 + r.nextInt(30), 40 + r.nextInt(30), color())
    private val vx = 5 + r.nextInt(5)
    private val vy = 2 + r.nextInt(3)

    def render(t: Int): BufferedImage = {
      val img = new BufferedImage(Width, Height, BufferedImage.TYPE_INT_RGB)
      val g = img.createGraphics()
      val lift = Math.floorMod(t, 40) * 3
      def bg(c: Array[Int]) = new Color(c(0) + lift, c(1) + lift, c(2) + lift)
      g.setPaint(new GradientPaint(0f, 0f, bg(top), 0f, Height.toFloat, bg(bottom)))
      g.fillRect(0, 0, Width, Height)
      val m = mover.copy(
        x = Math.floorMod(mover.x + t * vx, Width + mover.w) - mover.w,
        y = Math.floorMod(mover.y + t * vy, Height + mover.h) - mover.h)
      (shapes :+ m).foreach { s =>
        g.setColor(s.c)
        if (s.oval) g.fillOval(s.x, s.y, s.w, s.h) else g.fillRect(s.x, s.y, s.w, s.h)
      }
      g.dispose()
      img
    }
  }

  def jpeg(img: BufferedImage, quality: Float): Array[Byte] = {
    val w = ImageIO.getImageWritersByFormatName("jpeg").next()
    val p = w.getDefaultWriteParam
    p.setCompressionMode(ImageWriteParam.MODE_EXPLICIT)
    p.setCompressionQuality(quality)
    val out = new ByteArrayOutputStream()
    val ios = ImageIO.createImageOutputStream(out)
    try {
      w.setOutput(ios)
      w.write(null, new IIOImage(img, null, null), p)
    } finally { ios.close(); w.dispose() }
    out.toByteArray
  }

  // ---- video clips ---------------------------------------------------------

  /** One clip: its JPEG frames, and per frame the id of its content — frames
    * of one planted static run share one id (they are byte-identical),
    * every moving frame has its own.
    */
  final case class Clip(frames: Array[Array[Byte]], contentId: Array[Int], static: Array[Boolean])

  /** Alternates moving segments (20-78 frames) with planted static runs
    * (6-36 byte-identical frames), which puts about 30% of frames in
    * static runs.
    */
  def clip(seed: Long, i: Int, nFrames: Int): Clip = {
    val r = rng(seed, 1, i)
    val scene = new Scene(r)
    val frames = new Array[Array[Byte]](nFrames)
    val ids = new Array[Int](nFrames)
    val static = new Array[Boolean](nFrames)
    var f = 0
    var t = 0
    var nextId = 0
    var moving = r.nextBoolean()
    while (f < nFrames) {
      if (moving) {
        val n = math.min(nFrames - f, 20 + r.nextInt(59))
        (0 until n).foreach { _ =>
          frames(f) = jpeg(scene.render(t), 0.85f); ids(f) = nextId
          nextId += 1; t += 1; f += 1
        }
      } else {
        val n = math.min(nFrames - f, 6 + r.nextInt(31))
        val still = jpeg(scene.render(t), 0.85f)
        (0 until n).foreach { _ =>
          frames(f) = still; ids(f) = nextId; static(f) = true; f += 1
        }
        nextId += 1; t += 1
      }
      moving = !moving
    }
    Clip(frames, ids, static)
  }

  // ---- search gallery and queries -------------------------------------------

  /** Anchor frame `i`: the JPEG bytes the gallery row `i` is described from. */
  def anchor(seed: Long, i: Int): Array[Byte] =
    jpeg(new Scene(rng(seed, 2, i)).render(0), 0.85f)

  /** A perturbed query for anchor `i`: the scene a few frames later,
    * re-encoded at a lower quality (a screenshot of the same shot).
    */
  def perturbed(seed: Long, i: Int): Array[Byte] =
    jpeg(new Scene(rng(seed, 2, i)).render(2), 0.5f)

  val Dim = 64
  val SceneSize = 50

  /** Filler vectors for a gallery described from `anchors`: members of
    * scene clusters of `SceneSize` vectors, in the anchors' descriptor
    * space. A scene is drawn the way the anchor frames are, straight on the
    * 8×8 grid — a vertical luminance gradient under 6-12 flat rectangles —
    * and each member adds per-cell noise; L2 normalized, like the anchors.
    * A scene whose centre comes within cosine `MaxAnchorCos` of an anchor is
    * drawn again, so no filler shot is a near-duplicate of an anchor shot.
    * Covers ids below `ids`.
    */
  final class Filler(seed: Long, anchors: Array[Array[Float]], ids: Long) extends Serializable {
    private val centers: Array[Array[Float]] = Array.tabulate((ids / SceneSize + 1).toInt) { s =>
      Iterator.from(0).map(attempt => center(s, attempt))
        .find(c => !anchors.exists(a => dot(a, normalize(c)) >= MaxAnchorCos)).get
    }

    private def center(scene: Int, attempt: Int): Array[Float] = {
      val c = rng(seed, 3, scene * 1000L + attempt)
      val top = c.nextDouble(0.05, 0.5)
      val bottom = c.nextDouble(0.05, 0.5)
      val grid = Array.tabulate(Dim)(k => top + (bottom - top) * (k / 8) / 7.0)
      (0 until 6 + c.nextInt(7)).foreach { _ =>
        val x0 = c.nextInt(8); val y0 = c.nextInt(8)
        val w = 1 + c.nextInt(4); val h = 1 + c.nextInt(3); val lum = c.nextDouble()
        for (y <- y0 until math.min(8, y0 + h); x <- x0 until math.min(8, x0 + w))
          grid(y * 8 + x) = lum
      }
      grid.map(_.toFloat)
    }

    def apply(id: Long): Array[Float] = {
      val r = rng(seed, 4, id)
      normalize(centers((id / SceneSize).toInt).map(g =>
        math.min(1.0, math.max(0.0, g + 0.02 * r.nextGaussian())).toFloat))
    }
  }

  val MaxAnchorCos = 0.98

  def dot(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { s += a(i).toDouble * b(i); i += 1 }
    s
  }

  def normalize(v: Array[Float]): Array[Float] = {
    val n = math.sqrt(v.map(x => x.toDouble * x).sum)
    if (n == 0) v else v.map(x => (x / n).toFloat)
  }

  // ---- text corpus -----------------------------------------------------------

  /** The planted structure of a corpus: which ids are exact copies of which
    * text, which form near-duplicate clusters, and which are junk the
    * quality gate must drop.
    */
  final case class Corpus(
      texts: Array[String],
      exactGroups: Seq[Seq[Int]],
      nearClusters: Seq[Seq[Int]],
      junk: Set[Int],
      unique: Set[Int])

  val Vocabulary = 200000

  private final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = Array.tabulate(n)(r => 1.0 / math.pow(r + 1, s))
      val c = w.scanLeft(0.0)(_ + _).tail
      c.map(_ / c.last)
    }
    def draw(r: SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  private def word(i: Int): String = {
    val sb = new StringBuilder
    var x = i + 1
    while (x > 0) { sb.append(('a' + x % 26).toChar); x /= 26 }
    sb.append(Seq("a", "e", "o", "u")(i % 4)).toString
  }

  /** `n` documents over a Zipf(0.7) vocabulary of 200k words. Shares (of
    * ids): about 5% junk (punctuation-heavy, no quality), 10% extra exact
    * copies, 15% members of near-duplicate clusters (3-5 variants of a base
    * text, 3% of words replaced each), the rest unique. A few documents
    * carry an e-mail address or a phone number for the PII scrub.
    */
  def corpus(seed: Long, n: Int): Corpus = {
    val r = rng(seed, 5, 0)
    val zipf = new Zipf(Vocabulary, 0.7)
    val vocab = Array.tabulate(Vocabulary)(word)
    def doc(len: Int): Array[String] = Array.fill(len)(vocab(zipf.draw(r)))
    def pii(ws: Array[String]): Array[String] =
      if (r.nextInt(10) != 0) ws
      else {
        val at = r.nextInt(ws.length)
        ws.updated(at, if (r.nextBoolean()) s"user${r.nextInt(10000)}@example.org"
          else f"555-${r.nextInt(1000)}%03d-${r.nextInt(10000)}%04d")
      }
    val texts = new Array[String](n)
    val slots = {
      val a = Array.range(0, n)
      // shuffle ids so planted groups are spread over the id range
      for (i <- a.indices.reverse) { val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t }
      a.iterator
    }
    val exact = Seq.newBuilder[Seq[Int]]
    val near = Seq.newBuilder[Seq[Int]]
    var junk = Set.empty[Int]
    var unique = Set.empty[Int]
    var used = 0
    while (used < n) {
      val left = n - used
      val kind = r.nextInt(100)
      if (kind < 5) {
        val id = slots.next(); used += 1
        texts(id) = Array.fill(20 + r.nextInt(20))(vocab(zipf.draw(r)) + "!?;").mkString(" ")
        junk += id
      } else if (kind < 12 && left >= 3) {
        val copies = 2 + r.nextInt(2)
        val t = pii(doc(60 + r.nextInt(90))).mkString(" ")
        val ids = Seq.fill(copies)(slots.next()); used += copies
        ids.foreach(texts(_) = t)
        exact += ids
      } else if (kind < 18 && left >= 5) {
        val size = 3 + r.nextInt(3)
        val base = doc(80 + r.nextInt(70))
        val ids = Seq.fill(size)(slots.next()); used += size
        ids.zipWithIndex.foreach { case (id, v) =>
          val ws = base.clone()
          if (v > 0) {
            val edits = math.max(1, ws.length * 3 / 100)
            (0 until edits).foreach(_ => ws(r.nextInt(ws.length)) = vocab(zipf.draw(r)) + "x")
            ws(v % ws.length) = s"variant$v" // variants never coincide exactly
          }
          texts(id) = ws.mkString(" ")
        }
        near += ids
      } else {
        val id = slots.next(); used += 1
        texts(id) = pii(doc(60 + r.nextInt(90))).mkString(" ")
        unique += id
      }
    }
    Corpus(texts, exact.result(), near.result(), junk, unique)
  }
}
