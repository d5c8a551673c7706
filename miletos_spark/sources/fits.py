"""S1 — native FITS light-curve ingestion (miletos/main.py:7407-7502).

The reference reads TESS/Kepler light-curve FITS files with
`astropy.io.fits` and immediately flattens HDU1's binary table into
NumPy arrays (TIME / PDCSAP_FLUX / PDCSAP_FLUX_ERR / QUALITY). Astropy
is not in this image, but the FITS layout is a small public standard
(NASA FITS Standard 4.0): 2880-byte header blocks of 80-character
ASCII cards, then a big-endian record array described by
TFIELDS/TTYPEn/TFORMn/NAXIS1/NAXIS2. The minimal BINTABLE subset a
light curve needs — scalar columns of types B/I/J/K/E/D plus string
columns `rA` — is ~100 lines of numpy, so the parse is implemented
here for real (no astropy, no stub), with a matching writer used for
test fixtures and as an interchange sink.

Distributed seam (the part that matters at scale): files land through
Spark's `binaryFile` source — one task per file, whole file as a bytes
cell — and `mapInPandas` explodes each file into table rows on the
executors. A million small FITS files become a normal partitioned scan;
nothing funnels through the driver. Downstream (quality mask, BJD
offset, median normalization) is shared with the columnar path in
readers.py.

Unsupported FITS features (variable-length arrays, TSCAL/TZERO
rescaling, compressed HDUs) raise rather than silently misread.
"""

from __future__ import annotations

import io

import numpy as np

CARD = 80
BLOCK = 2880

# TFORM code -> (numpy big-endian dtype, bytes)
_TFORM_SCALAR = {
    "L": (">i1", 1),  # logical, stored as 'T'/'F' bytes; read as int
    "B": (">u1", 1),
    "I": (">i2", 2),
    "J": (">i4", 4),
    "K": (">i8", 8),
    "E": (">f4", 4),
    "D": (">f8", 8),
}


def _pad(n: int) -> int:
    return (BLOCK - n % BLOCK) % BLOCK


def _read_header(fh: io.BufferedReader) -> dict[str, str] | None:
    """One header unit: 2880-byte blocks of 80-char cards up to END.
    Returns {keyword: raw value text} or None at EOF."""
    cards: dict[str, str] = {}
    ended = False
    first = True
    while not ended:
        block = fh.read(BLOCK)
        if len(block) < BLOCK:
            if first and not block:
                return None
            raise ValueError("truncated FITS header block")
        first = False
        for i in range(0, BLOCK, CARD):
            card = block[i : i + CARD].decode("ascii", "replace")
            key = card[:8].strip()
            if key == "END":
                ended = True
                break
            if not key or card[8:10] != "= ":
                continue  # COMMENT / HISTORY / blank
            val = card[10:].split("/", 1)[0].strip()
            cards[key] = val
    return cards


def _header_int(cards: dict[str, str], key: str) -> int:
    return int(cards[key])


def _parse_tform(tform: str):
    """'D' / '1E' / '12A' -> (repeat, code)."""
    t = tform.strip().strip("'").strip()
    i = 0
    while i < len(t) and t[i].isdigit():
        i += 1
    repeat = int(t[:i]) if i else 1
    code = t[i : i + 1]
    return repeat, code


def read_fits_tables(data: bytes) -> list[dict[str, np.ndarray]]:
    """Parse every BINTABLE HDU in a FITS byte string into
    {column_name: array} dicts (native-endian numpy)."""
    fh = io.BytesIO(data)
    tables: list[dict[str, np.ndarray]] = []
    while True:
        cards = _read_header(fh)
        if cards is None:
            break
        naxis = _header_int(cards, "NAXIS") if "NAXIS" in cards else 0
        # data size of this HDU
        if naxis == 0:
            size = 0
        else:
            size = abs(_header_int(cards, "BITPIX")) // 8
            for ax in range(1, naxis + 1):
                size *= _header_int(cards, f"NAXIS{ax}")
        xtension = cards.get("XTENSION", "").strip("' ").strip()
        if xtension != "BINTABLE":
            fh.seek(size + _pad(size), io.SEEK_CUR)
            continue
        nrow = _header_int(cards, "NAXIS2")
        rowbytes = _header_int(cards, "NAXIS1")
        nfield = _header_int(cards, "TFIELDS")
        names, dtypes = [], []
        for k in range(1, nfield + 1):
            name = cards.get(f"TTYPE{k}", f"col{k}").strip("' ").strip()
            if f"TSCAL{k}" in cards or f"TZERO{k}" in cards:
                raise ValueError(
                    f"TSCAL/TZERO rescaling on column {name} not supported"
                )
            repeat, code = _parse_tform(cards[f"TFORM{k}"])
            if code == "A":
                dt = (f"S{repeat}", repeat)
            elif code in _TFORM_SCALAR and repeat == 1:
                dt = _TFORM_SCALAR[code]
            else:
                raise ValueError(
                    f"unsupported TFORM {cards[f'TFORM{k}']!r} on {name}"
                )
            names.append(name)
            dtypes.append(dt)
        total = sum(w for _, w in dtypes)
        if total != rowbytes:
            raise ValueError(
                f"TFORM widths sum to {total}, NAXIS1 is {rowbytes}"
            )
        raw = fh.read(nrow * rowbytes)
        if len(raw) < nrow * rowbytes:
            raise ValueError("truncated BINTABLE data")
        fh.seek(_pad(nrow * rowbytes), io.SEEK_CUR)
        rec = np.frombuffer(
            raw, dtype=np.dtype({"names": names,
                                 "formats": [d for d, _ in dtypes]})
        )
        tables.append(
            {
                n: (rec[n].astype(rec[n].dtype.newbyteorder("="))
                    if rec[n].dtype.kind != "S" else rec[n])
                for n in names
            }
        )
    return tables


def _card(key: str, value: str, comment: str = "") -> bytes:
    text = f"{key:<8}= {value:>20}"
    if comment:
        text += f" / {comment}"
    return text[:CARD].ljust(CARD).encode("ascii")


def _end_block(cards: list[bytes]) -> bytes:
    body = b"".join(cards) + b"END".ljust(CARD)
    return body + b" " * _pad(len(body))


def write_fits_table(
    path: str, columns: dict[str, np.ndarray], extname: str = "LIGHTCURVE"
) -> None:
    """Minimal single-BINTABLE FITS writer (fixture generator and
    interchange sink). Columns must be 1-D scalar arrays of a supported
    dtype; written big-endian per the standard."""
    code_of = {"u1": "B", "i2": "I", "i4": "J", "i8": "K",
               "f4": "E", "f8": "D"}
    names = list(columns)
    arrays = []
    tforms = []
    for n in names:
        a = np.asarray(columns[n])
        key = a.dtype.str.lstrip("<>=|")
        if key not in code_of:
            raise ValueError(f"unsupported column dtype {a.dtype} for {n}")
        arrays.append(a.astype(a.dtype.newbyteorder(">")))
        tforms.append(code_of[key])
    nrow = len(arrays[0]) if arrays else 0
    rowbytes = sum(a.dtype.itemsize for a in arrays)

    primary = _end_block(
        [
            _card("SIMPLE", "T", "conforms to FITS standard"),
            _card("BITPIX", "8"),
            _card("NAXIS", "0"),
            _card("EXTEND", "T"),
        ]
    )
    cards = [
        _card("XTENSION", "'BINTABLE'", "binary table extension"),
        _card("BITPIX", "8"),
        _card("NAXIS", "2"),
        _card("NAXIS1", str(rowbytes)),
        _card("NAXIS2", str(nrow)),
        _card("PCOUNT", "0"),
        _card("GCOUNT", "1"),
        _card("TFIELDS", str(len(names))),
        _card("EXTNAME", f"'{extname}'"),
    ]
    for k, (n, tf) in enumerate(zip(names, tforms), start=1):
        cards.append(_card(f"TTYPE{k}", f"'{n}'"))
        cards.append(_card(f"TFORM{k}", f"'{tf}'"))
    header = _end_block(cards)

    rec = np.empty(
        nrow,
        dtype=np.dtype(
            {"names": names, "formats": [a.dtype for a in arrays]}
        ),
    )
    for n, a in zip(names, arrays):
        rec[n] = a
    payload = rec.tobytes()
    with open(path, "wb") as f:
        f.write(primary)
        f.write(header)
        f.write(payload)
        f.write(b"\x00" * _pad(len(payload)))


def read_tess_fits(
    spark,
    path: str,
    inst: str = "TESS",
    time_col: str = "TIME",
    flux_col: str = "PDCSAP_FLUX",
    err_col: str = "PDCSAP_FLUX_ERR",
    quality_col: str = "QUALITY",
    apply_offset: bool = True,
    normalize: bool = True,
):
    """S1 end-to-end on native FITS files: `binaryFile` scan (one task
    per file, parallel across executors) → per-file BINTABLE parse in
    `mapInPandas` → the same quality-mask / BJD-offset / per-file
    median-normalize pipeline as the columnar path
    (miletos/main.py:7427-7502). `path` may be a glob; output schema is
    the long series (time, ener, value, stdv, inst, chunk) with one
    chunk id per file."""
    import pandas as pd

    from pyspark.sql import functions as F

    from miletos_spark.operators.normalize import median_normalize
    from miletos_spark.sources.readers import BJD_OFFSET

    binf = spark.read.format("binaryFile").load(path)

    def parse(batches):
        for pdf in batches:
            for fpath, blob in zip(pdf["path"], pdf["content"]):
                for tab in read_fits_tables(bytes(blob)):
                    if time_col not in tab or flux_col not in tab:
                        continue
                    n = len(tab[time_col])
                    out = pd.DataFrame(
                        {
                            "file": fpath,
                            "time": np.asarray(
                                tab[time_col], dtype=np.float64
                            ),
                            "flux": np.asarray(
                                tab[flux_col], dtype=np.float64
                            ),
                            "flux_err": (
                                np.asarray(tab[err_col], dtype=np.float64)
                                if err_col in tab
                                else np.zeros(n)
                            ),
                            "quality": (
                                np.asarray(tab[quality_col], dtype=np.int64)
                                if quality_col in tab
                                else np.zeros(n, dtype=np.int64)
                            ),
                        }
                    )
                    yield out

    rows = binf.select("path", "content").mapInPandas(
        parse,
        schema=(
            "file string, time double, flux double, flux_err double,"
            " quality bigint"
        ),
    )
    rows = rows.filter(
        (F.col("quality") == 0)
        & F.col("flux").isNotNull()
        & ~F.isnan("flux")
        & F.col("time").isNotNull()
        & ~F.isnan("time")
    )
    t = F.col("time")
    if apply_offset and inst in BJD_OFFSET:
        t = t + F.lit(BJD_OFFSET[inst])
    out = rows.select(
        t.alias("time"),
        F.lit(0).alias("ener"),
        F.col("flux").alias("value"),
        F.col("flux_err").alias("stdv"),
        F.lit(inst).alias("inst"),
        F.xxhash64("file").alias("chunk"),
    )
    if normalize:
        out = median_normalize(out, group_cols=("inst", "chunk"))
    return out

