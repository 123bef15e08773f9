#!/usr/bin/env python3
"""Write src/test/resources/format6g.tsv, the C-formatting fixture of
ModelIOSpec: one line per double, `<IEEE bits as 16 hex digits>\t<%.6g>`.

Python's printf-style "%.6g" rounds the exact binary value half-to-even and
strips trailing zeros, exactly as the C library's printf (and so C++'s
`ostream << double` at precision 6) does. The values mix 7th-digit ties,
averages c/n as a model file holds them, random bit patterns and short
decimals across the fixed/scientific boundary. Deterministic (fixed seed).

    python3 tools/gen_format6g.py
"""
import os
import random
import struct

OUT = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..",
                   "src", "test", "resources", "format6g.tsv")


def values():
    random.seed(20261017)
    vals = []
    for d in [12345.65, 1234565.0, 123456.5, 1e-4, 9.99999e-5, 999999.5, 1e6, -0.0, 0.0,
              999999.4, 999999.6, 9.999995e-5, 0.000100000, 99999.95, 9999.995, 0.5, 2.5,
              1.0 / 3, 2.0 / 3, 1e-5, 1e15, 123.4567, 1234567.0, 5e-324, 1.7976931348623157e308]:
        vals += [d, -d]
    # ties at the 7th significant digit
    for _ in range(400):
        vals.append(random.randint(100000, 999999) + 0.5)
        vals.append(float(random.randint(100000, 999999) * 10 + 5))
    # averages c/n (n = averaging sweeps)
    for _ in range(1500):
        n = random.randint(1, 200)
        c = random.randint(0, 10 ** random.randint(1, 8))
        vals.append(c / n)
    # random bit patterns, finite only
    for _ in range(800):
        d = struct.unpack('<d', struct.pack('<Q', random.getrandbits(64)))[0]
        if d == d and abs(d) != float('inf'):
            vals.append(d)
    # decimals of at most 6 significant digits
    for _ in range(800):
        vals.append(float('%de%d' % (random.randint(1, 999999), random.randint(-12, 8))))
    return vals


def main():
    with open(OUT, 'w') as f:
        for d in values():
            bits = struct.unpack('<Q', struct.pack('<d', d))[0]
            f.write('%016x\t%s\n' % (bits, '%.6g' % d))


if __name__ == '__main__':
    main()
