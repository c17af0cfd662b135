"""BlockCodeExtractor — images codified into words
(palladian-image-processing features/BlockCodeExtractor.java).

The extractor pixelates an image onto a fixed palette
(ImageHandler.pixelate:1130-1148 — each boxSize square takes its
TOP-LEFT pixel's nearest palette color by Lab CIE76 distance,
first-strictly-smaller wins, ImageHandler.getNearestColor:1112-1124),
then walks blockSize x blockSize grids of pixelation corners and emits
one word per block (codeBlock:262-380):

    [count]<mainColorCode><shapeCode><sectionChar>!

- mainColorCode: 'a' + palette index of the block's most frequent
  color. The reference breaks frequency ties by HashMap iteration
  order (Bag.createSorted) — this port substitutes the deterministic
  first-appearance-in-block order (documented).
- shapeCode 1-4: uniform / vertical stripes / horizontal stripes / X
  (exact 2x2 and 3x3 branch structure; an unmatched pattern keeps the
  Java default 0).
- sectionChar: 'a' + section number with the reference's asymmetric
  +1 on x only (sx = x/sectionWidth + 1, sy = y/sectionHeight,
  codeImage:208-214) — kept bug-for-bug.
- words end with '!' so the stemmer can't strip a trailing 's'.
- TWENTY_EIGHT_AND_BRIGHTNESS_* modes: the reference computes
  (int)(level * averageBrightness / 256) where averageBrightness is
  rgbToHsb's [0,1] scale — the result is ALWAYS 0, so every word's
  color code degenerates to '0'; kept bug-for-bug (:345-350).
- FIFTY_ONE mode builds brightness-shifted palette entries through
  Color.HSBtoRGB with brightness 0.25*256 = 64.0 — 255x out of range;
  the Java float->int->32-bit-shift overflow chain is replayed
  exactly (java_hsb_to_rgb below).

Spark shape: ONE column-pruned Arrow pass emits (media_id, text);
the word stream feeds the SAME text-classification stack as prose
(kgp.textclassifier), which is the extractor's stated purpose.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from kgp.multimodal import decode_bmp, rgb_to_lab

# Java Color constants
_BLACK = (0, 0, 0)
_WHITE = (255, 255, 255)
_LIGHT_GRAY = (192, 192, 192)
_GRAY = (128, 128, 128)
_DARK_GRAY = (64, 64, 64)

_CHROMATIC_12 = [
    (7, 139, 91), (134, 185, 53), (234, 227, 49), (245, 194, 46),
    (235, 139, 47), (229, 95, 45), (221, 38, 44), (190, 0, 121),
    (107, 51, 133), (71, 71, 145), (53, 104, 169), (36, 143, 181)]

_CHROMATIC_23 = [
    (7, 139, 91), (70, 162, 71), (134, 185, 53), (184, 206, 51),
    (234, 227, 49), (240, 210, 47), (245, 194, 46), (240, 166, 46),
    (235, 139, 47), (232, 117, 46), (229, 95, 45), (225, 67, 45),
    (221, 38, 44), (206, 19, 82), (190, 0, 121), (149, 26, 127),
    (107, 51, 133), (94, 61, 139), (71, 71, 145), (62, 88, 157),
    (53, 104, 169), (45, 124, 175), (36, 143, 181)]


def _i32(v: int) -> int:
    """Wrap to Java 32-bit signed int."""
    v &= 0xFFFFFFFF
    return v - 0x100000000 if v >= 0x80000000 else v


def java_rgb_to_hsb(r: int, g: int, b: int) -> tuple[float, float, float]:
    """java.awt.Color.RGBtoHSB in float32 (scalar)."""
    f32 = np.float32
    cmax = max(r, g, b)
    cmin = min(r, g, b)
    brightness = f32(cmax) / f32(255)
    saturation = f32(cmax - cmin) / f32(cmax) if cmax != 0 else f32(0)
    if saturation == 0:
        hue = f32(0)
    else:
        redc = f32(cmax - r) / f32(cmax - cmin)
        greenc = f32(cmax - g) / f32(cmax - cmin)
        bluec = f32(cmax - b) / f32(cmax - cmin)
        if r == cmax:
            hue = bluec - greenc
        elif g == cmax:
            hue = f32(2) + redc - bluec
        else:
            hue = f32(4) + greenc - redc
        hue = hue / f32(6)
        if hue < 0:
            hue = hue + f32(1)
    return float(hue), float(saturation), float(brightness)


def java_hsb_to_rgb(hue: float, saturation: float,
                    brightness: float) -> tuple[int, int, int]:
    """java.awt.Color.HSBtoRGB replayed exactly in float32 with the
    32-bit packing — out-of-range brightness (the FIFTY_ONE palette
    passes 64.0) overflows through the shifts just like Java."""
    f32 = np.float32
    hue, saturation, brightness = f32(hue), f32(saturation), \
        f32(brightness)
    r = g = b = 0
    if saturation == 0:
        r = g = b = int(brightness * f32(255) + f32(0.5))
    else:
        h = (hue - f32(np.floor(hue))) * f32(6)
        f = h - f32(np.floor(h))
        p = brightness * (f32(1) - saturation)
        q = brightness * (f32(1) - saturation * f)
        t = brightness * (f32(1) - saturation * (f32(1) - f))
        case = int(h)
        br = int(brightness * f32(255) + f32(0.5))
        tt = int(t * f32(255) + f32(0.5))
        pp = int(p * f32(255) + f32(0.5))
        qq = int(q * f32(255) + f32(0.5))
        if case == 0:
            r, g, b = br, tt, pp
        elif case == 1:
            r, g, b = qq, br, pp
        elif case == 2:
            r, g, b = pp, br, tt
        elif case == 3:
            r, g, b = pp, qq, br
        elif case == 4:
            r, g, b = tt, pp, br
        elif case == 5:
            r, g, b = br, pp, qq
    rgb = _i32(0xFF000000 | _i32(r << 16) | _i32(g << 8) | _i32(b))
    return (rgb >> 16) & 0xFF, (rgb >> 8) & 0xFF, rgb & 0xFF


def build_palette(number_of_colors: str = "TWENTY_EIGHT") -> list:
    """BlockCodeExtractor.init (:155-195): BLACK + WHITE + the
    mode's chromatic-circle colors; FIFTY_ONE appends the two
    brightness-shifted (overflowed) variants per non-gray color."""
    palette = [_BLACK, _WHITE]
    if number_of_colors == "GREY_SCALE_5":
        palette += [_LIGHT_GRAY, _GRAY, _DARK_GRAY]
    elif number_of_colors == "EIGHT":
        palette += [(7, 139, 91), (234, 227, 49), (235, 139, 47),
                    (221, 38, 44), (107, 51, 133), (36, 143, 181)]
    elif number_of_colors == "FOURTEEN":
        palette += _CHROMATIC_12
    else:
        palette += [_GRAY, _LIGHT_GRAY, _DARK_GRAY]
        palette += _CHROMATIC_23
    if number_of_colors == "FIFTY_ONE":
        extra = []
        for c, color in enumerate(palette, start=1):
            if c <= 5:
                continue
            h, s, _ = java_rgb_to_hsb(*color)
            extra.append(java_hsb_to_rgb(h, s, 0.25 * 256))
            extra.append(java_hsb_to_rgb(h, s, 0.75 * 256))
        palette += extra
    return palette


def get_nearest_color(rgb, palette) -> tuple[int, int, int]:
    """ImageHandler.getNearestColor (:1112-1124): Lab CIE76, first
    strictly-smaller distance wins (ties keep the earlier entry)."""
    best = None
    best_d = None
    for color in palette:
        la, lb = rgb_to_lab(*rgb), rgb_to_lab(*color)
        d = float(np.sqrt((la[0] - lb[0]) ** 2 + (la[1] - lb[1]) ** 2
                          + (la[2] - lb[2]) ** 2))
        if best is None or best_d > d:
            best, best_d = color, d
    return best


def pixelate(img: np.ndarray, box_size: int,
             palette=None) -> np.ndarray:
    """ImageHandler.pixelate (:1130-1148): every boxSize square takes
    its top-left pixel (palette-quantized when given)."""
    out = img[:, :, :3].copy()
    h, w = out.shape[:2]
    for x in range(0, w, box_size):
        for y in range(0, h, box_size):
            color = tuple(int(v) for v in img[y, x, :3])
            if palette is not None:
                color = get_nearest_color(color, palette)
            out[y:y + box_size, x:x + box_size] = color
    return out


def _code_block(block: list, section: int, palette,
                block_size: str, number_of_colors: str,
                number_of_colors_in_code: bool) -> str:
    """codeBlock (:262-380). Deterministic substitute for the Bag
    tie-break: highest count, then first appearance in block order."""
    counts: dict = {}
    order: list = []
    avg_brightness = 0.0
    for c in block:
        if c not in counts:
            counts[c] = 0
            order.append(c)
        counts[c] += 1
        avg_brightness += java_rgb_to_hsb(*c)[2]
    avg_brightness /= len(block)

    main = max(order, key=lambda c: (counts[c], -order.index(c)))
    main_code = ""
    for pos, color in enumerate(palette):
        if main == color:
            main_code = chr(97 + pos)
            break
    n_colors = len(counts)

    shape = 0
    if block_size == "ONE_BY_ONE":
        shape = 1
    elif block_size == "TWO_BY_TWO":
        if n_colors == 1:
            shape = 1
        elif block[0] == block[2] and block[1] == block[3]:
            shape = 2
        elif block[0] == block[1] and block[2] == block[3]:
            shape = 3
        elif block[0] == block[3] and block[1] == block[2]:
            shape = 4
    else:  # THREE_BY_THREE
        if n_colors == 1:
            shape = 1
        elif (block[0] == block[3] == block[6]
              or block[1] == block[4] == block[7]
              or block[2] == block[5] == block[8]):
            shape = 2
        elif (block[0] == block[1] == block[2]
              or block[3] == block[4] == block[5]
              or block[6] == block[7] == block[8]):
            shape = 3
        elif (block[0] == block[4] == block[8]
              or block[2] == block[4] == block[6]):
            shape = 4

    brightness = ""
    level = {"TWENTY_EIGHT_AND_BRIGHTNESS_2": 2,
             "TWENTY_EIGHT_AND_BRIGHTNESS_3": 3,
             "TWENTY_EIGHT_AND_BRIGHTNESS_4": 4,
             "TWENTY_EIGHT_AND_BRIGHTNESS_6": 6,
             "TWENTY_EIGHT_AND_BRIGHTNESS_8": 8,
             "TWENTY_EIGHT_AND_BRIGHTNESS_10": 10}.get(
        number_of_colors, 0)
    if level > 0:
        # reference bug kept: brightness is on the [0,1] awt scale,
        # so (int)(level * avg / 256) is ALWAYS 0
        brightness = str(int(level * avg_brightness / 256))

    code = str(n_colors) if number_of_colors_in_code else ""
    if brightness:
        main_code = brightness
    return code + main_code + str(shape) + chr(96 + section) + "!"


_BLOCK_LEN = {"ONE_BY_ONE": 2, "TWO_BY_TWO": 2, "THREE_BY_THREE": 3,
              "FOUR_BY_FOUR": 4, "FIVE_BY_FIVE": 5}


def block_code(img: np.ndarray,
               number_of_colors: str = "TWENTY_EIGHT",
               pixelation_size: int = 8,
               block_size: str = "THREE_BY_THREE",
               image_sections: str = "THREE_BY_THREE",
               number_of_colors_in_code: bool = False,
               palette=None) -> str:
    """extract + codeImage (:197-260): pixelate, then emit one word
    per blockSize grid of pixelation corners (3x3 walks to i-1, the
    reference's bounds guard). The asymmetric section formula is kept
    bug-for-bug."""
    if palette is None:
        palette = build_palette(number_of_colors)
    px = pixelate(img, pixelation_size, palette)
    h, w = px.shape[:2]
    sections = _BLOCK_LEN[image_sections]
    section_w = int(w / sections)
    section_h = int(h / sections)
    word_len = _BLOCK_LEN[block_size] * pixelation_size
    i1 = int(w / word_len)
    i2 = int(h / word_len)
    if block_size in ("ONE_BY_ONE", "TWO_BY_TWO"):
        jj, ii, n = i2, i1, 2
    elif block_size == "THREE_BY_THREE":
        jj, ii, n = i2 - 1, i1 - 1, 3
    else:
        raise ValueError("block size must be 2x2 or 3x3")
    words = []
    for j in range(jj):
        for i in range(ii):
            bx, by = word_len * i, word_len * j
            sx = int(bx / section_w) + 1 if section_w else 1
            sy = int(by / section_h) if section_h else 0
            section = sy * sections + sx
            block = [tuple(int(v) for v in px[by + r * pixelation_size,
                                              bx + c * pixelation_size,
                                              :3])
                     for r in range(n) for c in range(n)]
            words.append(_code_block(block, section, palette,
                                     block_size, number_of_colors,
                                     number_of_colors_in_code))
    return " ".join(words)


def block_code_stage(media: DataFrame,
                     number_of_colors: str = "TWENTY_EIGHT",
                     pixelation_size: int = 2,
                     block_size: str = "TWO_BY_TWO",
                     image_sections: str = "TWO_BY_TWO") -> DataFrame:
    """(media_id, text) — ONE column-pruned Arrow pass; the word
    stream is classifier-ready (kgp.textclassifier)."""
    src = media.where("kind = 'image'").select("media_id", "content")
    palette = build_palette(number_of_colors)

    def run(batches):
        import pandas as pd
        for pdf in batches:
            rows = []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                img = decode_bmp(bytes(content))
                rows.append((int(mid), block_code(
                    img, number_of_colors, pixelation_size,
                    block_size, image_sections, palette=palette)))
            yield pd.DataFrame(rows, columns=["media_id", "text"])

    return src.mapInPandas(run, "media_id long, text string")
