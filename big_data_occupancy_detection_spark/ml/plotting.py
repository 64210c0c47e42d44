"""Minimal pure-stdlib raster plotting for report PNGs.

The reference exports confusion-matrix and ROC plots via matplotlib
(``ml/train_model.py:56-101,318-334``); matplotlib is not installable in
this container, so these are rendered directly into an RGB buffer and
encoded with the repo's stdlib PNG encoder (ext/png_codec.py). Driver-side
only, O(classes²) / O(thresholds) input — never distributed data.

Scope: filled cells, Bresenham polylines, axes, and a 3×5 digit font for
tick/cell labels. Not a general plotting library — just enough for the
two report artifacts to be legible and self-describing.
"""

from __future__ import annotations

from ..ext.png_codec import encode_png

# 3x5 bitmap glyphs (rows of 3 bits, MSB left) for digits and a few marks
_FONT = {
    "0": [0b111, 0b101, 0b101, 0b101, 0b111],
    "1": [0b010, 0b110, 0b010, 0b010, 0b111],
    "2": [0b111, 0b001, 0b111, 0b100, 0b111],
    "3": [0b111, 0b001, 0b111, 0b001, 0b111],
    "4": [0b101, 0b101, 0b111, 0b001, 0b001],
    "5": [0b111, 0b100, 0b111, 0b001, 0b111],
    "6": [0b111, 0b100, 0b111, 0b101, 0b111],
    "7": [0b111, 0b001, 0b010, 0b010, 0b010],
    "8": [0b111, 0b101, 0b111, 0b101, 0b111],
    "9": [0b111, 0b101, 0b111, 0b001, 0b111],
    ".": [0b000, 0b000, 0b000, 0b000, 0b010],
    "-": [0b000, 0b000, 0b111, 0b000, 0b000],
    " ": [0b000, 0b000, 0b000, 0b000, 0b000],
}


class Canvas:
    """RGB8 raster with just enough primitives for charts."""

    def __init__(self, width: int, height: int, bg=(255, 255, 255)):
        self.w, self.h = width, height
        self.buf = bytearray(bytes(bg) * (width * height))

    def set(self, x: int, y: int, color) -> None:
        if 0 <= x < self.w and 0 <= y < self.h:
            i = (y * self.w + x) * 3
            self.buf[i : i + 3] = bytes(color)

    def fill_rect(self, x0: int, y0: int, w: int, h: int, color) -> None:
        for y in range(max(y0, 0), min(y0 + h, self.h)):
            for x in range(max(x0, 0), min(x0 + w, self.w)):
                self.set(x, y, color)

    def line(self, x0: int, y0: int, x1: int, y1: int, color) -> None:
        dx, sx = abs(x1 - x0), 1 if x0 < x1 else -1
        dy, sy = -abs(y1 - y0), 1 if y0 < y1 else -1
        err = dx + dy
        while True:
            self.set(x0, y0, color)
            if x0 == x1 and y0 == y1:
                return
            e2 = 2 * err
            if e2 >= dy:
                err += dy
                x0 += sx
            if e2 <= dx:
                err += dx
                y0 += sy

    def text(self, x: int, y: int, s: str, color=(0, 0, 0), scale: int = 1) -> None:
        """Render digits/dot/minus with the 3×5 font; unknown chars skip."""
        cx = x
        for ch in s:
            glyph = _FONT.get(ch)
            if glyph is not None:
                for gy, row in enumerate(glyph):
                    for gx in range(3):
                        if row & (1 << (2 - gx)):
                            self.fill_rect(
                                cx + gx * scale, y + gy * scale, scale, scale, color
                            )
            cx += 4 * scale

    def to_png(self) -> bytes:
        return encode_png(bytes(self.buf), self.w, self.h, channels=3)


def _heat_color(v: float):
    """0..1 → white→blue ramp (dark = high), readable in grayscale too."""
    v = min(max(v, 0.0), 1.0)
    return (int(255 - 205 * v), int(255 - 170 * v), 255 - int(55 * v))


def confusion_matrix_png(cells: dict[tuple[int, int], int]) -> bytes:
    """Heatmap of {(label, prediction): count} with in-cell counts.

    Rows are true labels (top→bottom ascending), columns predictions.
    """
    labels = sorted({k[0] for k in cells} | {k[1] for k in cells})
    n = max(len(labels), 1)
    cell, margin = 64, 28
    cv = Canvas(margin + n * cell + 8, margin + n * cell + 8)
    peak = max(cells.values(), default=1) or 1
    for i, lab in enumerate(labels):  # row: true label
        for j, pred in enumerate(labels):
            v = cells.get((lab, pred), 0)
            x0, y0 = margin + j * cell, margin + i * cell
            cv.fill_rect(x0, y0, cell - 2, cell - 2, _heat_color(v / peak))
            ink = (255, 255, 255) if v / peak > 0.55 else (0, 0, 0)
            cv.text(x0 + 6, y0 + cell // 2 - 5, str(v), ink, scale=2)
    for i, lab in enumerate(labels):  # axis tick labels
        cv.text(margin + i * cell + cell // 2 - 4, margin - 14, str(lab), scale=2)
        cv.text(margin - 14, margin + i * cell + cell // 2 - 5, str(lab), scale=2)
    return cv.to_png()


def line_chart_png(
    points: list[tuple[float, float]], diagonal: bool = False
) -> bytes:
    """360×360 polyline over unit-square data (ROC/PR curves): axes, 0/1
    tick labels, optional chance diagonal."""
    side, m = 360, 30  # size, margin
    cv = Canvas(side, side)
    x0, y0, x1, y1 = m, side - m, side - m, m
    axis = (40, 40, 40)
    cv.line(x0, y0, x1, y0, axis)
    cv.line(x0, y0, x0, y1, axis)
    cv.text(x0 - 10, y0 + 4, "0", axis, scale=2)
    cv.text(x1 - 4, y0 + 10, "1", axis, scale=2)
    cv.text(x0 - 14, y1 - 4, "1", axis, scale=2)

    def px(p):
        fx = min(max(p[0], 0.0), 1.0)
        fy = min(max(p[1], 0.0), 1.0)
        return (int(x0 + fx * (x1 - x0)), int(y0 - fy * (y0 - y1)))

    if diagonal:
        cv.line(x0, y0, x1, y1, (200, 200, 200))
    pts = [px(p) for p in sorted(points)]
    for a, b in zip(pts, pts[1:]):
        cv.line(a[0], a[1], b[0], b[1], (30, 80, 200))
    return cv.to_png()
