package graft

package object multimodal {

  /** Decode-side allocation cap of every image decoder (64 Mi): the pixels
    * of a GIF canvas (times its frames), a TIFF or a JPEG frame, and the
    * scanline bytes of a PNG must stay under it before anything is
    * allocated. Far above any fixture, far below an allocation that kills
    * an executor. Each decoder keeps its own arithmetic against it.
    */
  private[multimodal] val MaxPixels: Long = 64L * 1024 * 1024
}
