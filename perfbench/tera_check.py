"""Independent checker for TeraSort record directories.

Reads the 100-byte records (10-byte key, 90-byte value) of a directory's
``part-*.dat`` files with plain Python, never with the program's reader, so
a change to ``read_tera_files`` or ``teravalidate`` cannot grade itself.

The checksum is the order-insensitive one ``sources.teragen.checksum``
defines: the sum over records of the first 48 bits of
``md5(key || 0x00 || value)``.
"""

from __future__ import annotations

import glob
import hashlib
import os
from dataclasses import dataclass, field

KEY_LEN = 10
RECORD_LEN = 100


def record_hash(key: bytes, value: bytes) -> int:
    return int(hashlib.md5(key + b"\x00" + value).hexdigest()[:12], 16)


@dataclass
class DirReport:
    """What one pass over a record directory found."""

    files: int = 0
    rows: int = 0
    checksum: int = 0
    sorted_ok: bool = True
    rows_per_file: list[int] = field(default_factory=list)
    errors: list[str] = field(default_factory=list)


def part_files(path: str) -> list[str]:
    return sorted(glob.glob(os.path.join(path, "part-*.dat")))


def scan_dir(path: str, check_sorted: bool) -> DirReport:
    """Read every part file in file-name order. With ``check_sorted``,
    require keys to be non-decreasing across the whole concatenation —
    per file path, not per Spark partition."""
    rep = DirReport()
    prev = b""
    for fp in part_files(path):
        with open(fp, "rb") as f:
            data = f.read()
        if len(data) % RECORD_LEN:
            rep.errors.append(f"{os.path.basename(fp)}: {len(data)} bytes is not whole records")
        n = len(data) // RECORD_LEN
        rep.files += 1
        rep.rows += n
        rep.rows_per_file.append(n)
        for off in range(0, n * RECORD_LEN, RECORD_LEN):
            key = data[off : off + KEY_LEN]
            rep.checksum += record_hash(key, data[off + KEY_LEN : off + RECORD_LEN])
            if check_sorted and key < prev and rep.sorted_ok:
                rep.sorted_ok = False
                rep.errors.append(f"{os.path.basename(fp)}: key at byte {off} is below its predecessor")
            prev = key
    if rep.files == 0:
        rep.errors.append(f"no part-*.dat files under {path}")
    return rep


def check_sorted_dir(path: str, expect_rows: int, expect_checksum: int) -> DirReport:
    """The full sorted-permutation contract: sorted across the file-name
    concatenation, the expected record count, and the input's checksum."""
    rep = scan_dir(path, check_sorted=True)
    if rep.rows != expect_rows:
        rep.errors.append(f"rows: got {rep.rows}, expected {expect_rows}")
    if rep.checksum != expect_checksum:
        rep.errors.append(f"checksum: got {rep.checksum}, expected {expect_checksum}")
    return rep
