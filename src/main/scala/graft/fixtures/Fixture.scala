package graft.fixtures

import org.apache.spark.sql.expressions.UserDefinedFunction

/** How a probe derives from its master: `apply(master, src)` is the
  * probe of master `src`. Three kinds:
  *   - an [[Edit]] rewrites the master's bytes (crop + resize, rotation,
  *     dihedral turn, JPEG re-encode, aspect squeeze);
  *   - a [[Respec]] re-synthesises a [[Synth]] master with other
  *     parameters (resample, trim, speed, pitch, gain), which is how a
  *     signal that shares no sample with its master is made;
  *   - [[Regen]] re-renders `src` through another generator (a cropped
  *     or turned render, another container, a re-timed stream). */
sealed trait Transform extends Serializable {
  def apply(master: Long => Array[Byte], src: Long): Array[Byte]
  /** This transform, then the byte edit `next` on its output. */
  def andThen(next: Edit): Transform = Then(this, next)
}

final case class Then(first: Transform, next: Edit) extends Transform {
  def apply(master: Long => Array[Byte], src: Long): Array[Byte] =
    next.edit(first(master, src))
}

final case class Regen(render: Long => Array[Byte]) extends Transform {
  def apply(master: Long => Array[Byte], src: Long): Array[Byte] = render(src)
}

/** Byte edits. Image edits take PNG/JPEG payloads; the ones that also
  * take a DIB AVI (a `RIFF` payload) edit every frame, and `from`
  * drops that many leading frames. */
sealed abstract class Edit extends Transform {
  def edit(payload: Array[Byte]): Array[Byte]
  final def apply(master: Long => Array[Byte], src: Long): Array[Byte] =
    edit(master(src))
  protected final def isAvi(p: Array[Byte]): Boolean =
    p.length > 4 && p(0) == 'R' && p(1) == 'I' && p(2) == 'F' && p(3) == 'F'
}

/** Crop the box `[x0, x1) x [y0, y1)`, resample it to `ow x oh`. */
final case class CropResize(x0: Int, y0: Int, x1: Int, y1: Int, ow: Int,
    oh: Int, from: Int = 0) extends Edit {
  def edit(p: Array[Byte]): Array[Byte] =
    if (isAvi(p)) Media.aviCropResizeDib(p, x0, y0, x1, y1, ow, oh, from)
    else Media.pngCropResize(p, x0, y0, x1, y1, ow, oh)
}

/** Squeeze a `size`-square frame by `sq` along one axis (0 = width). */
final case class Squeeze(sq: Double, axis: Int, size: Int = 256,
    from: Int = 0) extends Edit {
  def edit(p: Array[Byte]): Array[Byte] = {
    val s = math.round(size / sq).toInt
    if (axis == 0) CropResize(0, 0, size, size, s, size, from).edit(p)
    else CropResize(0, 0, size, size, size, s, from).edit(p)
  }
}

/** Rotate by `deg` degrees and scale by `factor` about the centre. */
final case class Rotate(deg: Double, factor: Double = 1.0, from: Int = 0)
    extends Edit {
  def edit(p: Array[Byte]): Array[Byte] =
    if (isAvi(p)) Media.aviRotateResizeDib(p, deg, factor, from)
    else Media.pngRotateResize(p, deg, factor)
}

/** Dihedral-8 orientation `k` (mirror, then quarter turns). */
final case class Dihedral(k: Int) extends Edit {
  def edit(p: Array[Byte]): Array[Byte] =
    if (isAvi(p)) Media.aviDihedralDib(p, k) else Media.pngDihedral(p, k)
}

/** Re-save as JPEG at `quality`. */
final case class Reencode(quality: Float) extends Edit {
  def edit(p: Array[Byte]): Array[Byte] = Media.jpegReencode(p, quality)
}

/** Stretch the width of every DIB frame by `fx`. */
final case class Aspect(fx: Double, from: Int = 0) extends Edit {
  def edit(p: Array[Byte]): Array[Byte] = Media.aviAspectDib(p, fx, from)
}

/** A parametric audio master: its payload is a pure function of the
  * seed and these parameters, so a [[Respec]] can re-synthesise the
  * same continuous signal at another rate, window, speed or pitch. */
sealed trait Synth extends (Long => Array[Byte]) with Serializable

/** [[Media.syntheticWavTones]] with these parameters. */
final case class Tones(rate: Int, ms: Int = 512, offsetMs: Int = 0,
    gateMs: Int = 0, segMs: Int = 128, permMs: Int = 0, gainNum: Int = 1,
    gainDen: Int = 1, floorNum: Int = 0, floorDen: Int = 1) extends Synth {
  def apply(id: Long): Array[Byte] = Media.syntheticWavTones(id, rate,
    ms = ms, offsetMs = offsetMs, gateMs = gateMs, segMs = segMs,
    permMs = permMs, gainNum = gainNum, gainDen = gainDen,
    floorNum = floorNum, floorDen = floorDen)
}

/** [[Media.syntheticWavBeats]] with these parameters. */
final case class Beats(rate: Int, ms: Int = 1248, offsetMs: Int = 0,
    speedNum: Int = 1, speedDen: Int = 1, gainNum: Int = 1,
    gainDen: Int = 1, uniformSegMs: Int = 0, pitchNum: Int = 1,
    pitchDen: Int = 1) extends Synth {
  def apply(id: Long): Array[Byte] = Media.syntheticWavBeats(id, rate,
    ms = ms, offsetMs = offsetMs, speedNum = speedNum, speedDen = speedDen,
    gainNum = gainNum, gainDen = gainDen, uniformSegMs = uniformSegMs,
    pitchNum = pitchNum, pitchDen = pitchDen)
}

/** A re-synthesis of a [[Synth]] master. */
sealed abstract class Respec extends Transform {
  def respec(s: Synth): Synth
  final def apply(master: Long => Array[Byte], src: Long): Array[Byte] =
    master match {
      case s: Synth => respec(s)(src)
      case _ => throw new IllegalArgumentException(s"$this needs a Synth master")
    }
  /** This re-synthesis, then `next`. */
  final def andThen(next: Respec): Respec = Respecs(this, next)
}

final case class Respecs(first: Respec, next: Respec) extends Respec {
  def respec(s: Synth): Synth = next.respec(first.respec(s))
}

/** The same signal sampled at `hz`. */
final case class Resample(hz: Int) extends Respec {
  def respec(s: Synth): Synth = s match {
    case t: Tones => t.copy(rate = hz)
    case b: Beats => b.copy(rate = hz)
  }
}

/** The `ms`-long window that starts `offsetMs` into the signal. */
final case class Trim(offsetMs: Int, ms: Int) extends Respec {
  def respec(s: Synth): Synth = s match {
    case t: Tones => t.copy(offsetMs = offsetMs, ms = ms)
    case b: Beats => b.copy(offsetMs = offsetMs, ms = ms)
  }
}

/** Level scaled by `num / den`. */
final case class Gain(num: Int, den: Int) extends Respec {
  def respec(s: Synth): Synth = s match {
    case t: Tones => t.copy(gainNum = num, gainDen = den)
    case b: Beats => b.copy(gainNum = num, gainDen = den)
  }
}

/** Played `num / den` faster: tempo and pitch both move (beats only). */
final case class Speed(num: Int, den: Int) extends Respec {
  def respec(s: Synth): Synth = s match {
    case b: Beats => b.copy(speedNum = num, speedDen = den)
    case _ => throw new IllegalArgumentException("Speed needs Beats")
  }
}

/** Pitch shifted by `num / den` at the same tempo (beats only). */
final case class Pitch(num: Int, den: Int) extends Respec {
  def respec(s: Synth): Synth = s match {
    case b: Beats => b.copy(pitchNum = num, pitchDen = den)
    case _ => throw new IllegalArgumentException("Pitch needs Beats")
  }
}

/** Probe `k` of a fixture: transform `t` of master `src`. */
final case class Probe(src: Long, t: Transform)

/** A named media fixture: the master of every doc id, probe `k` derived
  * from a master by a [[Transform]], and optionally the decoys (ids past
  * the probes that carry no master). A gate lays it out over doc ids
  * with a probe base: ids below `base` are masters, id `base + k` for
  * `k < n` is probe `k`, and ids past the probes are decoys (masters
  * when the fixture names none). An m gate and its st twin name the
  * same fixture; the twin streams the masters, then the probes. */
final case class Fixture(master: Long => Array[Byte],
    probe: Long => Probe = _ => throw new NoSuchElementException("no probes"),
    decoy: Option[Long => Array[Byte]] = None) {

  def payload(base: Long, n: Long)(id: Long): Array[Byte] = {
    val k = id - base
    if (k < 0) master(id)
    else if (k < n) { val p = probe(k); p.t(master, p.src) }
    else decoy.getOrElse(master)(id)
  }

  /** The layout as one Scala UDF over the doc id; with no base every id
    * carries its master. */
  def udf(base: Long = Long.MaxValue, n: Long = Long.MaxValue): UserDefinedFunction =
    org.apache.spark.sql.functions.udf((id: Long) => payload(base, n)(id))
}

object Fixture {
  /** Probe `k` is `t` of master `k`. */
  def uniform(t: Transform): Long => Probe = k => Probe(k, t)
  /** Probe `k` is `ts(k mod |ts|)` of master `k`. */
  def cycle(ts: Transform*): Long => Probe = k => Probe(k, ts((k % ts.size).toInt))
  /** Probe `k` is `ps(k mod |ps|)`. */
  def table(ps: Probe*): Long => Probe = k => ps((k % ps.size).toInt)
}
