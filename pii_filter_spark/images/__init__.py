"""Pure-numpy image codecs for the binary `bytes` column.

No imaging library is a dependency (no Pillow/libjpeg), so both formats
are implemented from their specs:
  * PNG (lossless) — encoder and decoder for 8-bit RGB (png_codec.py);
  * JPEG (lossy) — baseline sequential JFIF encoder and decoder per ITU-T
    T.81 (jpeg_codec.py), PSNR >= 40 dB at synth.LOSSY_QUALITY.
codecs.decode_image dispatches on the magic bytes.
"""

from .codecs import decode_image, encode_image, psnr  # noqa: F401
