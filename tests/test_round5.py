"""Round-5 additions.

- Bounded-driver compaction planning (VERDICT r4 "what's wrong" #2):
  _plan_jobs must never collect() the manifest, and its greedy bin
  semantics must be identical to the round-4 driver-side planner.
- FLOAT16 logical type read (VERDICT r4 missing #3): decode, stats
  pruning in exact double space, footer aggregates, pqread f32
  widening.
- Legacy LZ4 (codec 5) read (VERDICT r4 missing #2): try-each-framing
  decode validated against the page header's exact uncompressed size.
"""

from __future__ import annotations

import tempfile

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pyspark.sql import DataFrame, functions as F

from parquet_go_spark.interop import compact, pqreader

from tests.refcorpus import need


def _synth_manifest(spark, n_rows: int, seed: int = 11):
    """Synthetic export manifest: many tiny repos plus a few multi-part
    ones, sizes spanning small/large, with tombstones sprinkled in."""
    import random

    rng = random.Random(seed)
    rows = []
    for i in range(n_rows):
        repo = f"org{i % 977}/repo{i % 9973}"
        bucket = i % 4
        part = i // 9973
        kind = rng.random()
        if kind < 0.05:
            size = -1  # tombstone (resume key)
        elif kind < 0.85:
            size = rng.randint(1, 100_000)  # small
        else:
            size = rng.randint(5_000_000, 50_000_000)  # big, untouched
        rows.append((f"f{i}.parquet", repo, bucket, part,
                     max(size, 0) // 100, size))
    return spark.createDataFrame(
        rows,
        "file string, repo string, bucket long, part long, "
        "n_rows long, file_bytes long",
    )


def _reference_greedy(rows, small_bytes, target_bytes):
    """The round-4 collect()-based planner, verbatim semantics, as the
    equivalence oracle for the streaming planner."""
    small = [r for r in rows if 0 < r["file_bytes"] < small_bytes]
    next_part = {}
    for r in rows:
        next_part[r["repo"]] = max(next_part.get(r["repo"], 0),
                                   int(r["part"]) + 1)
    small.sort(key=lambda r: (r["repo"], r["bucket"], r["part"]))
    jobs = []
    cur, cur_bytes = [], 0

    def close():
        nonlocal cur, cur_bytes
        if len(cur) >= 2:
            repo = cur[0]["repo"]
            part = next_part[repo]
            next_part[repo] = part + 1
            jobs.append((repo, int(cur[0]["bucket"]), part,
                         "\n".join(r["file"] for r in cur)))
        cur, cur_bytes = [], 0

    for r in small:
        if cur and cur_bytes >= target_bytes:
            close()
        cur.append(r)
        cur_bytes += r["file_bytes"]
    close()
    return sorted(jobs)


@pytest.mark.parametrize("n_rows", [100_000])
def test_plan_jobs_bounded_driver_and_greedy_identical(
    spark, monkeypatch, n_rows
):
    """Plan a 100k-row manifest with DataFrame.collect FORBIDDEN (the
    round-4 planner collect()ed every row — a driver OOM at the module's
    advertised 10^8-file regime) and assert the planned jobs are
    IDENTICAL to the reference driver-side greedy."""
    manifest = _synth_manifest(spark, n_rows)
    ref_rows = [r.asDict() for r in manifest.collect()]  # oracle only

    small_bytes, target_bytes = 200_000, 400_000
    want = _reference_greedy(ref_rows, small_bytes, target_bytes)
    assert len(want) > 1000, "fixture must produce a real job load"

    real_collect = DataFrame.collect

    def forbidden(self, *a, **kw):
        raise AssertionError(
            "compaction planning must not collect() a DataFrame")

    monkeypatch.setattr(DataFrame, "collect", forbidden)
    try:
        with tempfile.TemporaryDirectory() as spill:
            jobs_df, n_jobs, sample = compact._plan_jobs(
                spark, manifest, small_bytes, target_bytes, spill)
            assert jobs_df is not None and sample is not None
            monkeypatch.setattr(DataFrame, "collect", real_collect)
            got = sorted(
                (r.repo, int(r.bucket), int(r.part), r.files)
                for r in jobs_df.collect()
            )
    finally:
        monkeypatch.setattr(DataFrame, "collect", real_collect)

    assert n_jobs == len(want)
    assert got == want


def test_plan_jobs_no_jobs_when_nothing_small(spark):
    manifest = spark.createDataFrame(
        [("a.parquet", "r", 0, 0, 10, 9_000_000),
         ("b.parquet", "r", 0, 1, 10, 9_000_000)],
        "file string, repo string, bucket long, part long, "
        "n_rows long, file_bytes long",
    )
    with tempfile.TemporaryDirectory() as spill:
        jobs_df, n_jobs, _ = compact._plan_jobs(
            spark, manifest, 1_000_000, 4_000_000, spill)
    assert jobs_df is None and n_jobs == 0


# ------------------------------------------------------- FLOAT16 read

@pytest.fixture(scope="module")
def f16_file(tmp_path_factory):
    """pyarrow-written FLOAT16 file: multiple row groups, nulls, NaN,
    +/-0, with statistics and a page index."""
    rng = np.random.default_rng(5)
    vals = rng.standard_normal(4000).astype(np.float16)
    vals[7] = np.float16("nan")
    vals[11] = np.float16(0.0)
    vals[13] = np.float16(-0.0)
    col = pa.array(vals).to_pylist()
    col[99] = None
    t = pa.table({
        "h": pa.array(col, pa.float16()),
        "i": pa.array(range(4000), pa.int64()),
    })
    p = str(tmp_path_factory.mktemp("f16") / "f16.parquet")
    pq.write_table(t, p, row_group_size=500, write_statistics=True,
                   write_page_index=True)
    return p


def test_float16_decode_equals_pyarrow(f16_file):
    ours = pqreader.read_table(f16_file)
    ref = pq.read_table(f16_file)
    assert ours.schema.field("h").type == pa.float16()
    assert ours.cast(ref.schema).equals(ref)


@pytest.mark.parametrize("pred", [
    ("h", ">", 0.5),
    ("h", "<=", -0.25),
    ("h", "=", 0.0),        # must match the stored -0.0 too
    ("h", "!=", 0.1),
    ("h", "isnull"),
    ("h", "in", [0.0, 1.0, 0.25]),
    ("and", [("h", ">", -1.0), ("h", "<", 1.0)]),
])
def test_float16_predicates_exact(f16_file, pred):
    """Differential vs pyarrow filtering in float64 space (pyarrow has
    no halffloat compare kernels, so the expectation is computed on the
    exact f64 widening — the semantics the reader defines)."""
    import pyarrow.compute as pc

    ours = pqreader.read_table(f16_file, predicate=pred)
    ref = pq.read_table(f16_file)
    h = ref["h"].cast(pa.float64())

    def leaf_mask(p):
        if p[1] == "isnull":
            return pc.is_null(h)
        if p[1] == "in":
            m = pa.array(np.zeros(len(h), bool))
            for v in p[2]:
                m = pc.or_kleene(m, pc.equal(h, pa.scalar(float(v))))
            return m
        fn = {"=": pc.equal, "!=": pc.not_equal, "<": pc.less,
              "<=": pc.less_equal, ">": pc.greater,
              ">=": pc.greater_equal}[p[1]]
        return fn(h, pa.scalar(float(p[2])))

    if pred[0] == "and":
        mask = leaf_mask(pred[1][0])
        for p in pred[1][1:]:
            mask = pc.and_kleene(mask, leaf_mask(p))
    else:
        mask = leaf_mask(pred)
    mask = pc.fill_null(mask, False)
    want = ref.filter(mask)
    assert ours.num_rows == want.num_rows
    assert ours.cast(want.schema).equals(want)


def test_float16_footer_aggregates(f16_file):
    import pyarrow.compute as pc

    agg = pqreader.footer_aggregates(f16_file)["columns"]["h"]
    # duckdb reads FLOAT16 as BLOB, so the full-scan oracle is pyarrow
    # in exact f64 space; min/max over non-NaN values (parquet stats
    # semantics)
    h = pq.read_table(f16_file)["h"].cast(pa.float64())
    finite = h.filter(pc.invert(pc.fill_null(pc.is_nan(h), True)))
    assert agg["count"] == len(h) - h.null_count
    assert agg["null_count"] == h.null_count
    assert agg["min"] == pc.min(finite).as_py()
    assert agg["max"] == pc.max(finite).as_py()


def test_float16_spark_read_widens_to_f32(spark, f16_file, tmp_path):
    import shutil

    from parquet_go_spark.sources import pqread as ds

    d = tmp_path / "f16dir"
    d.mkdir()
    shutil.copy(f16_file, d / "part0.parquet")
    ds.register(spark)
    df = spark.read.format("pqread").load(str(d))
    assert dict(df.dtypes)["h"] == "float"
    got = {r["i"]: r["h"] for r in df.collect()}
    ref = pq.read_table(f16_file)
    want = {i.as_py(): h.as_py() for i, h in zip(ref["i"], ref["h"])}
    assert len(got) == len(want)
    for k, v in want.items():
        g = got[k]
        if v is None:
            assert g is None
        elif v != v:
            assert g != g
        else:
            assert g == pytest.approx(float(v))
    # a WHERE on the half column is exact in the distributed read too
    # (`<`: NaN rows fail it under Spark's and IEEE order alike)
    n = (spark.read.format("pqread").load(str(d))
         .where("h < 0.5").count())
    h64 = ref["h"].cast(pa.float64())
    import pyarrow.compute as pc
    assert n == pc.sum(pc.fill_null(pc.less(h64, 0.5), False)).as_py()


# -------------------------------------------------- legacy LZ4 (codec 5)

def test_page_decompress_all_lz4_flavors():
    data = (b"colcodec legacy lz4 " * 500)[:7777]
    raw_block = pa.Codec("lz4_raw").compress(data, asbytes=True)
    frame = pa.Codec("lz4").compress(data, asbytes=True)
    hadoop = (len(data).to_bytes(4, "big")
              + len(raw_block).to_bytes(4, "big") + raw_block)
    # multi-block hadoop framing
    half = len(data) // 2
    b1 = pa.Codec("lz4_raw").compress(data[:half], asbytes=True)
    b2 = pa.Codec("lz4_raw").compress(data[half:], asbytes=True)
    hadoop2 = (half.to_bytes(4, "big") + len(b1).to_bytes(4, "big") + b1
               + (len(data) - half).to_bytes(4, "big")
               + len(b2).to_bytes(4, "big") + b2)
    for buf in (hadoop, hadoop2, raw_block, frame):
        assert pqreader._page_decompress(
            pqreader._LZ4_LEGACY, buf, len(data)) == data
    with pytest.raises(ValueError, match="none of the known framings"):
        pqreader._page_decompress(pqreader._LZ4_LEGACY, b"\x00" * 40, 9999)


def test_page_decompress_lz4_probe_faults_propagate(monkeypatch):
    """The legacy-LZ4 probes catch only a framing that does not decode
    (OSError from the codec, ValueError from the frame parser); any
    other fault in the codec raises."""
    class Faulty:
        def __init__(self, name):
            pass

        def decompress(self, *a, **kw):
            raise RuntimeError("codec fault")

    monkeypatch.setattr(pqreader.pa, "Codec", Faulty)
    with pytest.raises(RuntimeError, match="codec fault"):
        pqreader._page_decompress(pqreader._LZ4_LEGACY, b"\x00" * 40, 9999)


def test_malloc_tune_catches_only_a_missing_libc(monkeypatch):
    import ctypes

    from parquet_go_spark.codecs import _malloc

    def no_libc(*a, **kw):
        raise OSError("libc.so.6: cannot open shared object file")

    monkeypatch.setattr(ctypes, "CDLL", no_libc)
    assert _malloc.tune() is False

    def broken(*a, **kw):
        raise RuntimeError("loader fault")

    monkeypatch.setattr(ctypes, "CDLL", broken)
    with pytest.raises(RuntimeError, match="loader fault"):
        _malloc.tune()


@pytest.mark.parametrize("comp,codec_id", [("lz4_legacy", 5),
                                           ("lz4_raw", 7)])
def test_lz4_write_read_interop(tmp_path, comp, codec_id):
    """Author codec-5 (Hadoop framing, the parquet-mr flavor) and
    codec-7 (LZ4_RAW — the reference's compress/lz4 codec) files with
    OUR writer; both must round-trip through our pqreader AND decode
    identically in pyarrow (pyarrow 16 cannot write codec 5 itself —
    its 'lz4' name emits LZ4_RAW — so our writer authors the fixture)."""
    import os

    from parquet_go_spark.codecs.kinds import Codec, Kind
    from parquet_go_spark.interop.pqwriter import ColumnSpec, write_table

    n = 20000
    x = np.arange(n, dtype=np.int64)
    p = str(tmp_path / f"{comp}.parquet")
    write_table(p, [ColumnSpec("x", Kind.INT64, x,
                               encoding=Codec.PLAIN)],
                compression=comp)
    fmd = pqreader._file_meta(p).fmd
    ids = {cc[3][4] for rg in fmd.get(4, []) for cc in rg[1]}
    assert ids == {codec_id}
    ours = pqreader.read_table(p)
    ref = pq.read_table(p)
    assert np.array_equal(np.asarray(ours["x"]), x)
    assert ours.cast(ref.schema).equals(ref)
    filt = pqreader.read_table(p, predicate=("x", "<", 100))
    assert filt.num_rows == 100


def test_legacy_lz4_bare_block_flavor(tmp_path):
    """Codec 5 whose pages are BARE LZ4 blocks (old parquet-cpp flavor):
    authored by writing LZ4_RAW pages and rewriting only the footer's
    codec ids to 5 through our thrift writer-independent byte check —
    here simulated by writing with lz4_raw then patching the two codec
    field bytes located via a footer re-read."""
    import os

    from parquet_go_spark.codecs.kinds import Codec, Kind
    from parquet_go_spark.interop.pqwriter import ColumnSpec, write_table

    x = np.arange(5000, dtype=np.int64)
    p = str(tmp_path / "bare.parquet")
    write_table(p, [ColumnSpec("x", Kind.INT64, x, encoding=Codec.PLAIN)],
                compression="lz4_raw")
    blob = bytearray(open(p, "rb").read())
    flen = int.from_bytes(blob[-8:-4], "little")
    foot_lo = len(blob) - 8 - flen
    # thrift-compact i32 field 4 (codec) zigzag: 7 → 0x0e, 5 → 0x0a.
    # The codec field header byte is 0x15 (delta 1 from field 3, type 5)
    # followed by the zigzag value — patch every occurrence inside the
    # footer (column metadata structs only; 0x15 0x0e is specific
    # enough in this tiny single-column fixture).
    cnt = 0
    i = foot_lo
    while True:
        j = blob.find(b"\x15\x0e", i, len(blob) - 8)
        if j < 0:
            break
        blob[j + 1] = 0x0A
        cnt += 1
        i = j + 2
    assert cnt >= 1
    p2 = str(tmp_path / "bare5.parquet")
    open(p2, "wb").write(bytes(blob))
    fmd = pqreader._file_meta(p2).fmd
    ids = {cc[3][4] for rg in fmd.get(4, []) for cc in rg[1]}
    assert ids == {5}, "patch must have flipped the codec id"
    ours = pqreader.read_table(p2)
    assert np.array_equal(np.asarray(ours["x"]), x)
    ref = pq.read_table(p2)
    assert ours.cast(ref.schema).equals(ref)


# ------------------------------------- modular encryption read (AES_GCM_V1)

FOOTER_KEY = b"0123456789112345"
COL_KEY = b"1234567890123450"


def _kms_factory():
    import base64

    import pyarrow.parquet.encryption as pe

    class Kms(pe.KmsClient):
        def __init__(self, config):
            super().__init__()
            self.keys = {k: base64.b64decode(v)
                         for k, v in config.custom_kms_conf.items()}

        def wrap_key(self, key_bytes, master_key_identifier):
            import os

            from cryptography.hazmat.primitives.ciphers.aead import AESGCM

            nonce = os.urandom(12)
            ct = AESGCM(self.keys[master_key_identifier]).encrypt(
                nonce, key_bytes, None)
            return base64.b64encode(nonce + ct).decode()

        def unwrap_key(self, wrapped_key, master_key_identifier):
            from cryptography.hazmat.primitives.ciphers.aead import AESGCM

            raw = base64.b64decode(wrapped_key)
            return AESGCM(self.keys[master_key_identifier]).decrypt(
                raw[:12], raw[12:], None)

    import base64 as b64

    conf = pe.KmsConnectionConfig(custom_kms_conf={
        "kf": b64.b64encode(FOOTER_KEY).decode(),
        "kc": b64.b64encode(COL_KEY).decode(),
    })
    return pe.CryptoFactory(lambda config: Kms(config)), conf, Kms(conf)


def _enc_table():
    rng = np.random.default_rng(55)
    n = 3000
    x = rng.integers(0, 1_000_000, n)
    s = [f"doc-{i % 211}" for i in range(n)]
    y = rng.standard_normal(n)
    return pa.table({"x": pa.array(x, pa.int64()),
                     "s": pa.array(s),
                     "y": pa.array(y, pa.float64())})


def _write_encrypted(path, *, plaintext_footer=False):
    import pyarrow.parquet.encryption as pe

    factory, conf, _ = _kms_factory()
    enc_conf = pe.EncryptionConfiguration(
        footer_key="kf",
        column_keys={"kc": ["x", "s"]},
        encryption_algorithm="AES_GCM_V1",
        double_wrapping=False,
        plaintext_footer=plaintext_footer,
    )
    t = _enc_table()
    props = factory.file_encryption_properties(conf, enc_conf)
    with pq.ParquetWriter(path, t.schema,
                          encryption_properties=props) as w:
        w.write_table(t.slice(0, 1500))
        w.write_table(t.slice(1500))
    return t


def _decryption():
    from parquet_go_spark.interop import pqcrypt

    # LocalKeyUnwrap matches _kms_factory's wrap format; the pqread
    # data source builds the same retriever from its master_keys
    # option (_pqread_keys)
    return pqcrypt.FileDecryption(
        key_retriever=pqcrypt.pyarrow_key_retriever(
            pqcrypt.LocalKeyUnwrap({"kf": FOOTER_KEY, "kc": COL_KEY})))


def _pqread_keys(masters: dict) -> dict:
    """pqread string options for master keys {key_id: bytes}."""
    import json

    return {"master_keys": json.dumps(
        {k: v.hex() for k, v in masters.items()})}


@pytest.mark.parametrize("plaintext_footer", [False, True])
def test_encrypted_read_equals_source(tmp_path, plaintext_footer):
    from parquet_go_spark.interop import pqreader as r

    p = str(tmp_path / "enc.parquet")
    t = _write_encrypted(p, plaintext_footer=plaintext_footer)
    ours = r.read_table(p, decryption=_decryption())
    assert ours.cast(t.schema).equals(t)
    # projection of a single encrypted column
    one = r.read_table(p, columns=["s"], decryption=_decryption())
    assert one.column("s").equals(t.column("s"))


def test_footer_key_union_arm_normalization():
    """ENCRYPTION_WITH_FOOTER_KEY (union field 1): this pyarrow cannot
    author it (no uniform_encryption), so the arm is unit-tested: the
    normalizer must resolve the chunk to the FOOTER key."""
    from parquet_go_spark.interop import pqcrypt, pqreader as r

    meta = {9: 4, 5: 10}
    fmd = {4: [{1: [{3: meta, 8: {1: {}}}]}]}
    dec = pqcrypt.FileDecryption(footer_key=FOOTER_KEY)
    r._normalize_encrypted(fmd, b"aad8byte", dec, "synthetic")
    c = meta["__crypto__"]
    assert c.key == FOOTER_KEY and c.rg == 0 and c.col == 0
    assert c.file_aad == b"aad8byte"


def test_encrypted_predicate_and_row_range(tmp_path):
    from parquet_go_spark.interop import pqreader as r

    p = str(tmp_path / "enc.parquet")
    t = _write_encrypted(p)
    got = r.read_table(p, predicate=("x", "<", 100_000),
                       decryption=_decryption())
    import pyarrow.compute as pc

    want = t.filter(pc.less(t["x"], 100_000))
    assert got.cast(want.schema).equals(want)
    rr = r.read_table(p, row_range=(10, 25), decryption=_decryption())
    assert rr.cast(t.schema).equals(t.slice(10, 15))


def test_encrypted_footer_aggregates(tmp_path):
    from parquet_go_spark.interop import pqreader as r

    p = str(tmp_path / "enc.parquet")
    t = _write_encrypted(p)
    agg = r.footer_aggregates(p, decryption=_decryption())
    import pyarrow.compute as pc

    assert agg["rows"] == t.num_rows
    assert agg["columns"]["x"]["min"] == pc.min(t["x"]).as_py()
    assert agg["columns"]["x"]["max"] == pc.max(t["x"]).as_py()


def test_encrypted_wrong_key_and_tamper_negatives(tmp_path):
    from parquet_go_spark.interop import pqcrypt, pqreader as r

    p = str(tmp_path / "enc.parquet")
    _write_encrypted(p)
    # no keys at all: clear error naming the fix
    with pytest.raises(ValueError, match="encrypted parquet"):
        r.read_table(p)
    # wrong footer key (direct key, bypassing key material)
    bad = pqcrypt.FileDecryption(
        key_retriever=lambda km: b"f" * 16)
    with pytest.raises(ValueError, match="GCM authentication"):
        r.read_table(p, decryption=bad)
    # tampered data page ciphertext: flip one byte in the body region
    blob = bytearray(open(p, "rb").read())
    blob[2000] ^= 0xFF
    p2 = str(tmp_path / "tampered.parquet")
    open(p2, "wb").write(bytes(blob))
    with pytest.raises(ValueError, match="GCM authentication"):
        r.read_table(p2, decryption=_decryption())


def test_plaintext_footer_partial_access(tmp_path):
    """Plaintext-footer mode: schema and the PLAINTEXT column are
    readable without any key; touching an encrypted column without
    keys raises a clear error; footer signature verifies with keys."""
    from parquet_go_spark.interop import pqreader as r

    p = str(tmp_path / "pf.parquet")
    t = _write_encrypted(p, plaintext_footer=True)
    assert r.read_schema(p).names == ["x", "s", "y"]
    y = r.read_table(p, columns=["y"])  # y is not in column_keys
    assert y.column("y").equals(t.column("y"))
    with pytest.raises(ValueError, match="is encrypted"):
        r.read_table(p, columns=["x"])
    # footer signature: verified when keys are present; a flipped
    # footer byte fails it
    r.read_table(p, columns=["y"], decryption=_decryption())
    blob = bytearray(open(p, "rb").read())
    flen = int.from_bytes(blob[-8:-4], "little")
    blob[len(blob) - 8 - flen + 3] ^= 0x01
    p2 = str(tmp_path / "pf_tampered.parquet")
    open(p2, "wb").write(bytes(blob))
    with pytest.raises(ValueError):
        r.read_table(p2, columns=["y"], decryption=_decryption())


def test_encrypted_spark_read(spark, tmp_path):
    import pyarrow.compute as pc

    from parquet_go_spark.sources import pqread as ds

    d = tmp_path / "encdir"
    d.mkdir()
    t = _write_encrypted(str(d / "part0.parquet"))
    ds.register(spark)
    keys = _pqread_keys({"kf": FOOTER_KEY, "kc": COL_KEY})

    def load():  # fresh per query (Spark 4.1 relation-reuse caveat)
        return spark.read.format("pqread").options(**keys).load(str(d))

    assert load().count() == t.num_rows
    got = load().agg({"x": "min"}).collect()[0][0]
    assert got == pc.min(t["x"]).as_py()
    n = load().where("x < 100000").count()
    assert n == pc.sum(pc.less(t["x"], 100_000)).as_py()


def test_aes_gcm_ctr_read(tmp_path):
    """AES_GCM_CTR_V1 (the spec's second algorithm): thrift modules
    stay GCM, page bodies are unauthenticated CTR modules
    ([len][12 B nonce][ct], IV = nonce || big-endian counter=1).
    pyarrow authors the fixture; our reader must decode it value-exact
    across multiple row groups, with predicates, and fail loudly on a
    wrong DEK (at the GCM page-header module — CTR itself cannot
    authenticate). Encrypted-footer mode only: parquet-cpp's writer
    records AesGcmV1 in a PLAINTEXT footer even when the pages are
    CTR, and its own reader then fails on such files ("Failed
    decryption finalization") — there is no well-formed
    plaintext-footer CTR fixture to read."""
    import pyarrow.parquet.encryption as pe

    from parquet_go_spark.interop import pqcrypt, pqreader as r

    factory, conf, _ = _kms_factory()
    enc_conf = pe.EncryptionConfiguration(
        footer_key="kf", column_keys={"kc": ["x", "s"]},
        encryption_algorithm="AES_GCM_CTR_V1", double_wrapping=False)
    t = _enc_table()
    p = str(tmp_path / "ctr.parquet")
    props = factory.file_encryption_properties(conf, enc_conf)
    with pq.ParquetWriter(p, t.schema, encryption_properties=props) as w:
        w.write_table(t.slice(0, 1500))
        w.write_table(t.slice(1500))
    ours = r.read_table(p, decryption=_decryption())
    assert ours.cast(t.schema).equals(t)
    # predicate on the CTR-encrypted column
    import pyarrow.compute as pc

    got = r.read_table(p, decryption=_decryption(),
                       predicate=("x", "<", 500_000))
    assert got.num_rows == pc.sum(pc.less(t["x"], 500_000)).as_py()
    # wrong direct DEK: the GCM page-header module authenticates
    # before any CTR plaintext is interpreted
    sch = r.read_schema(p, decryption=_decryption())
    assert sch.names == ["x", "s", "y"]
    with pytest.raises(ValueError, match="GCM|unwrap"):
        bad = pqcrypt.FileDecryption(
            key_retriever=pqcrypt.pyarrow_key_retriever(
                pqcrypt.LocalKeyUnwrap(
                    {"kf": FOOTER_KEY, "kc": b"0000000000000000"})))
        r.read_table(p, decryption=bad)


def test_pqread_ds_encrypted_and_float16(spark, tmp_path, f16_file):
    """Declarative surfaces: spark.read.format('pqread') decrypts with
    string options, and FLOAT16 files surface widened to float."""
    import json
    import shutil

    from parquet_go_spark.sources import pqread as ds

    ds.register(spark)
    d = tmp_path / "encdir"
    d.mkdir()
    t = _write_encrypted(str(d / "p.parquet"))
    mks = json.dumps({"kf": FOOTER_KEY.hex(), "kc": COL_KEY.hex()})
    df = (spark.read.format("pqread").option("master_keys", mks)
          .load(str(d)))
    assert df.count() == t.num_rows
    df2 = (spark.read.format("pqread").option("master_keys", mks)
           .load(str(d)))
    import pyarrow.compute as pc

    n = df2.where("x < 100000").count()
    assert n == pc.sum(pc.less(t["x"], 100_000)).as_py()
    # missing keys → clear error at schema/footer time
    with pytest.raises(Exception, match="encrypted"):
        spark.read.format("pqread").load(str(d)).count()

    d2 = tmp_path / "f16dir"
    d2.mkdir()
    shutil.copy(f16_file, d2 / "p.parquet")
    fdf = spark.read.format("pqread").load(str(d2))
    assert dict(fdf.dtypes)["h"] == "float"
    ref = pq.read_table(f16_file)
    h64 = ref["h"].cast(pa.float64())
    got = fdf.where("h > 0.5").count()
    # Spark semantics: NaN orders ABOVE every float, so NaN rows match
    # h > 0.5 — exactly why FLOAT16 columns are never pushed down (the
    # reader filters IEEE-exactly and would drop them)
    want = (pc.sum(pc.fill_null(pc.greater(h64, 0.5), False)).as_py()
            + pc.sum(pc.fill_null(pc.is_nan(h64), False)).as_py())
    assert got == want


# ---------------------------------------------------------------------------
# Nested typed-shredding VARIANT WRITE (VERDICT r4 missing #4 / next #6)
# ---------------------------------------------------------------------------

def _shred_cases():
    """(value, spec) zoo spanning the VariantShredding.md case tables."""
    import datetime as dt

    return [
        # primitive matches
        (True, "boolean"), (7, "int"), (2**40, "bigint"), (1.5, "double"),
        ("s", "string"), (dt.date(2024, 1, 30), "date"),
        # primitive mismatches (fallback to value)
        (7, "boolean"), (True, "int"), (2**40, "int"), ("x", "double"),
        (1.5, "bigint"), (None, "string"), ({"a": 1}, "int"), ([1], "string"),
        # objects: full shred, partial shred, absent fields, mismatch
        ({"a": 1, "b": "x"}, {"a": "int", "b": "string"}),
        ({"a": 1, "b": "x", "c": [1, 2]}, {"a": "int", "b": "string"}),
        ({"b": "x"}, {"a": "int", "b": "string"}),
        ({}, {"a": "int"}),
        ([1, 2], {"a": "int"}),
        ({"a": None}, {"a": "int"}),          # variant null field -> 0x00
        ({"a": {"x": 1, "y": None}}, {"a": {"x": "int"}}),
        # arrays: typed, mixed, nulls, empty, nested
        (["p", "q"], ["string"]),
        (["p", 3, None], ["string"]),
        ([], ["string"]),
        (34, ["string"]),
        ([{"a": 1, "z": 9}, {"a": None}, "str", None],
         [{"a": "int"}]),
        # deep nesting: object > list > object > list
        ({"docs": [{"tags": ["a", 1], "n": 2}], "extra": {"k": [True]}},
         {"docs": [{"tags": ["string"], "n": "bigint"}]}),
    ]


def test_shred_value_roundtrip_zoo():
    from parquet_go_spark.codecs import variant as V

    for v, spec in _shred_cases():
        meta, grp = V.shred_row(v, spec)
        got = V.reconstruct_shredded(meta, grp["value"], grp["typed_value"])
        assert got == v, (v, spec, grp, got)


def test_shred_case_table_decisions():
    from parquet_go_spark.codecs import variant as V

    # exact match: typed set, value null
    _, g = V.shred_row(7, "int")
    assert g == {"value": None, "typed_value": 7}
    # fully shredded object: value must be null (spec rule)
    _, g = V.shred_row({"a": 1}, {"a": "int"})
    assert g["value"] is None and g["typed_value"]["a"]["typed_value"] == 1
    # absent field: null group (both columns null)
    _, g = V.shred_row({"b": "x"}, {"a": "int", "b": "string"})
    assert g["typed_value"]["a"] is None
    # variant null field: 0x00 in the field's value column
    _, g = V.shred_row({"a": None}, {"a": "int"})
    assert g["typed_value"]["a"] == {"value": b"\x00", "typed_value": None}
    # residual never contains shredded names
    meta, g = V.shred_row({"a": 1, "c": 2}, {"a": "int"})
    names, _ = V.decode_metadata(meta)
    resid, _ = V.decode_value(names, g["value"])
    assert resid == {"c": 2}
    # null array element: variant null in the element's value column
    _, g = V.shred_row([None], ["string"])
    assert g["typed_value"] == [{"value": b"\x00", "typed_value": None}]
    # bool/int strictness both ways
    _, g = V.shred_row(True, "int")
    assert g["typed_value"] is None
    _, g = V.shred_row(1, "boolean")
    assert g["typed_value"] is None


def test_shred_write_matches_reference_fixtures():
    """Author the reference's shredded_variant cases with OUR writer:
    decode each golden .variant.bin, shred with the fixture's spec, and
    require the SAME shredding decisions parquet-java made (typed_value
    equality and decode-equal residual/value columns — residual BYTES
    may differ because the spec does not fix integer width choices)."""
    from parquet_go_spark.codecs import variant as V

    base = "/root/reference/testdata/shredded_variant"
    need(base)
    specs = {"case-004": "boolean", "case-045": ["string"],
             "case-134": {"a": "int", "b": "string"}}
    counts = {"case-004": 1, "case-045": 4, "case-134": 1}

    def norm(meta_names, grp):
        """Decision shape: typed_value tree + DECODED value columns."""
        if grp is None:
            return None
        out = {"typed": None, "value": None}
        if grp.get("value") is not None:
            out["value"] = V.decode_value(
                meta_names, bytes(grp["value"]))[0]
        t = grp.get("typed_value")
        if isinstance(t, dict):
            out["typed"] = {k: norm(meta_names, g) for k, g in t.items()}
        elif isinstance(t, list):
            out["typed"] = [norm(meta_names, g) for g in t]
        else:
            out["typed"] = t
        return out

    for case, spec in specs.items():
        rows = pqreader.read_rows(f"{base}/{case}.parquet")
        assert len(rows) == counts[case]
        for i, r in enumerate(rows):
            golden = V.decode_bin(
                open(f"{base}/{case}_row-{i}.variant.bin", "rb").read())
            meta, grp = V.shred_row(golden, spec)
            # identical logical value on reconstruction
            got = V.reconstruct_shredded(
                meta, grp["value"], grp["typed_value"])
            assert got == golden, (case, i)
            # identical shredding decisions as the fixture columns
            ref = r["var"]
            ref_names = V.decode_metadata(ref["metadata"])[0]
            our_names = V.decode_metadata(meta)[0]
            ref_grp = {"value": ref["value"],
                       "typed_value": ref["typed_value"]}
            assert norm(our_names, grp) == norm(ref_names, ref_grp), (
                case, i)


def test_shred_variant_spark_nested_pipeline(spark, tmp_path):
    """Nested shred -> OUR pipeline encode/decode -> unshred == source
    (canonical JSON both sides)."""
    import json as _json

    from parquet_go_spark.operators import variant as vops
    from parquet_go_spark.plans import pipeline

    spec = {"a": "bigint", "tags": ["string"], "m": {"x": "double"}}
    rows = []
    for i in range(120):
        if i % 11 == 0:
            obj = {"a": "not-an-int", "tags": "scalar", "extra": i}
        elif i % 7 == 0:
            obj = {"tags": [f"t{i}", None, 5], "m": {"x": i / 2, "y": i}}
        else:
            obj = {"a": i, "tags": [f"t{i}"], "m": {"x": float(i)},
                   "junk": [1, {"deep": "v"}]}
        rows.append((i, _json.dumps(obj)))
    df = spark.createDataFrame(rows, "k bigint, js string")
    sh = vops.shred_variant(df, "js", spec)
    store = str(tmp_path / "varstore")
    pipeline.encode_table(
        spark, sh.withColumn("grp", (F.col("k") % 3).cast("string")),
        store, repo_col="grp", salt_cols=["k"], sort_cols=["k"],
        resume=False)
    un = vops.unshred_variant(pipeline.decode_table(spark, store), "var")
    got = {r["k"]: r["json"] for r in un.collect()}
    want = {k: _json.dumps(_json.loads(js), sort_keys=True,
                           separators=(",", ":")) for k, js in rows}
    assert got == want


def test_shred_variant_export_pqreader_roundtrip(spark, tmp_path):
    """Nested shred -> OUR parquet writer -> OUR pqreader -> reconstruct
    == source objects; pyarrow must also read the file (no proprietary
    logical types in the container)."""
    import json as _json

    from parquet_go_spark.codecs import variant as V
    from parquet_go_spark.interop import export
    from parquet_go_spark.operators import variant as vops

    spec = {"a": "int", "b": "string", "l": [{"q": "bigint"}]}
    rows = []
    for i in range(60):
        obj = {"a": i if i % 5 else None, "b": f"s{i}",
               "l": [{"q": i}, {"q": "bad"}, None] if i % 3 else i,
               "resid": {"k": [i, None]}}
        rows.append((i, _json.dumps(obj)))
    df = spark.createDataFrame(rows, "k bigint, js string")
    sh = vops.shred_variant(df, "js", spec).withColumn(
        "grp", F.lit("g").cast("string"))
    out = str(tmp_path / "varpq")
    export.export_parquet(spark, sh, out, repo_col="grp")
    import glob

    files = sorted(glob.glob(out + "/*.parquet"))
    assert files
    got = {}
    for f in files:
        for r in pqreader.read_rows(f):
            var = r["var"]
            got[r["k"]] = V.reconstruct_shredded(
                var["metadata"], var["value"], var["typed_value"])
        pq.read_table(f)  # pyarrow readability
    want = {k: _json.loads(js) for k, js in rows}
    assert got == want


def test_nested_writer_differential_pyarrow_duckdb(tmp_path):
    """The generic Dremel write path (export._nested_spec +
    pqwriter.NestedColumnSpec): arbitrary struct/list nesting with
    nulls at EVERY level, empty lists, and multi-page/multi-row-group
    layout — files must read back identically via pyarrow, DuckDB, and
    OUR pqreader."""
    import duckdb

    from parquet_go_spark.interop import export
    from parquet_go_spark.interop.pqwriter import write_table

    rng = np.random.default_rng(5)
    n = 700
    rows = []
    for i in range(int(n)):
        r = rng.random()
        if r < 0.08:
            rows.append(None)  # null outer struct
        else:
            inner = None if r < 0.16 else {
                "tags": (None if r < 0.24 else
                         [] if r < 0.30 else
                         [None if rng.random() < 0.2 else f"t{j}"
                          for j in range(int(rng.integers(1, 4)))]),
                "n": None if r < 0.5 else int(i),
            }
            lst = (None if r < 0.2 else
                   [{"q": None if rng.random() < 0.3 else float(j),
                     "s": [int(i), None] if j % 2 else []}
                    for j in range(int(rng.integers(0, 3)))])
            rows.append({"inner": inner, "lst": lst, "flat": f"v{i % 7}"})
    typ = pa.struct([
        ("inner", pa.struct([
            ("tags", pa.list_(pa.string())), ("n", pa.int64())])),
        ("lst", pa.list_(pa.struct([
            ("q", pa.float64()), ("s", pa.list_(pa.int64()))]))),
        ("flat", pa.string()),
    ])
    arr = pa.array(rows, typ)
    ids = pa.array(np.arange(n, dtype=np.int64))
    spark_t = ("struct<inner:struct<tags:array<string>,n:bigint>,"
               "lst:array<struct<q:double,s:array<bigint>>>,flat:string>")

    spec = export._nested_spec("v", arr, spark_t)
    id_spec = export._to_specs(
        pa.table({"id": ids}), [("id", "bigint")])[0]
    f = str(tmp_path / "nested.parquet")
    # small pages + 3 row groups exercise the row-boundary page breaks
    write_table(f, [id_spec, spec], page_rows=64, row_group_rows=256)

    want = pa.table({"id": ids, "v": arr})
    got_pa = pq.read_table(f)
    assert got_pa.schema.field("v").type == typ
    assert got_pa.equals(want.cast(got_pa.schema))

    got_duck = duckdb.sql(
        f"select * from read_parquet('{f}') order by id").arrow()
    assert got_duck.num_rows == n

    got_ours = pqreader.read_table(f)
    assert got_ours.column("v").to_pylist() == arr.to_pylist()

    # CRC page checksums must verify
    pq.ParquetFile(f, page_checksum_verification=True).read()


def test_nested_writer_sliced_and_empty(tmp_path):
    """Slice offsets and zero-row tables must not corrupt the entry
    streams (offsets arrays must be read relative to the slice)."""
    from parquet_go_spark.interop import export
    from parquet_go_spark.interop.pqwriter import write_table

    typ = pa.struct([("a", pa.list_(pa.int64())), ("b", pa.string())])
    full = pa.array(
        [{"a": [i, None], "b": f"x{i}"} if i % 3 else
         {"a": [], "b": None} for i in range(40)], typ)
    sliced = full.slice(7, 21)
    spark_t = "struct<a:array<bigint>,b:string>"
    spec = export._nested_spec("v", sliced, spark_t)
    f = str(tmp_path / "sliced.parquet")
    write_table(f, [spec])
    assert pq.read_table(f).column("v").to_pylist() == sliced.to_pylist()

    empty = full.slice(0, 0)
    spec0 = export._nested_spec("v", empty, spark_t)
    f0 = str(tmp_path / "empty.parquet")
    write_table(f0, [spec0])
    assert pq.read_table(f0).num_rows == 0


def test_pipeline_nullable_containers_roundtrip(spark, tmp_path):
    """Round-5 grammar extension: null lists/structs/maps at every
    nesting level round-trip through the blob store (boolean 'valid'
    streams; struct containers use 's:valid' so a struct ELEMENT of a
    list cannot collide with the list's own stream)."""
    from parquet_go_spark.plans import pipeline

    rows = []
    for i in range(300):
        m = i % 7
        rows.append((
            i, f"g{i % 3}",
            None if m == 0 else [] if m == 1 else [f"t{i}", None],
            None if m == 2 else {"x": None if m == 3 else float(i),
                                 "l": None if m == 4 else [i, None]},
            None if m == 5 else ({} if m == 6 else {"k": f"v{i}"}),
            None if m == 1 else [
                None if j % 2 else {"q": i + j} for j in range(m)],
        ))
    df = spark.createDataFrame(
        rows,
        "k bigint, grp string, tags array<string>, "
        "st struct<x:double,l:array<bigint>>, mp map<string,string>, "
        "ls array<struct<q:bigint>>",
    )
    store = str(tmp_path / "nullable")
    pipeline.encode_table(spark, df, store, repo_col="grp",
                          salt_cols=["k"], sort_cols=["k"], resume=False)
    got = {r["k"]: r for r in
           pipeline.decode_table(spark, store).collect()}
    want = {r["k"]: r for r in df.collect()}
    assert set(got) == set(want)
    for k in want:
        assert got[k].asDict(recursive=True) == \
            want[k].asDict(recursive=True), k
    ver = pipeline.verify_roundtrip(spark, df, store)
    assert ver["ok"], ver


# ---------------------------------------------------------------------
# Encrypted parquet WRITE (pqwriter encryption=..., the write-side
# mirror of the round-5 read slice; reference encrypt.go
# EncryptionConfig, writer.go:2452-2479)


def _pyarrow_decryption_props():
    import pyarrow.parquet.encryption as pe

    factory, conf, _ = _kms_factory()
    return factory.file_decryption_properties(
        conf, pe.DecryptionConfiguration())


def _enc_write_cols():
    rng = np.random.default_rng(31)
    n = 4000
    from parquet_go_spark.interop.pqwriter import (
        ByteArrays, ColumnSpec, Kind)

    x = rng.integers(0, 10**9, n)
    names = [f"doc-{i % 37}".encode() for i in range(n)]
    y = rng.standard_normal(n)
    cols = [
        ColumnSpec("x", Kind.INT64, x),
        ColumnSpec("s", Kind.BYTE_ARRAY, ByteArrays.from_pylist(names),
                   logical="string"),
        ColumnSpec("y", Kind.DOUBLE, y),
    ]
    want = pa.table({"x": pa.array(x, pa.int64()),
                     "s": pa.array([b.decode() for b in names]),
                     "y": pa.array(y, pa.float64())})
    return cols, want


@pytest.mark.parametrize("plaintext_footer", [False, True])
@pytest.mark.parametrize("comp", [None, "zstd"])
def test_encrypted_write_interop(tmp_path, plaintext_footer, comp):
    """OUR writer, encrypted: multi-row-group + dictionary strings +
    column keys + footer-key column + AAD prefix + blooms + page
    indexes, read back equal by OUR reader (with working predicate
    pruning over the encrypted index/bloom modules) AND by pyarrow's
    CryptoFactory (PKMT1 key material) in both footer modes."""
    from parquet_go_spark.interop import pqcrypt, pqreader as r
    from parquet_go_spark.interop.pqwriter import write_table

    cols, want = _enc_write_cols()
    enc = pqcrypt.wrapped_encryption(
        {"kf": FOOTER_KEY, "kc": COL_KEY}, footer_master="kf",
        column_masters={"x": "kc", "s": "kc"},
        plaintext_footer=plaintext_footer, aad_prefix=b"myprefix")
    p = str(tmp_path / "ours.parquet")
    write_table(p, cols, row_group_rows=1500, compression=comp,
                bloom_columns=["x", "s"], encryption=enc)

    ours = r.read_table(p, decryption=_decryption())
    assert ours.cast(want.schema).equals(want)

    theirs = pq.ParquetFile(
        p, decryption_properties=_pyarrow_decryption_props()).read()
    assert theirs.cast(want.schema).equals(want)

    point = want.column("x")[42].as_py()
    got = r.read_table(p, predicate=("x", "=", point),
                       decryption=_decryption())
    assert point in got.column("x").to_pylist()
    assert got.num_rows < want.num_rows


def test_encrypted_write_footer_key_columns_via_retriever(tmp_path):
    """ENCRYPTION_WITH_FOOTER_KEY columns must resolve through the
    footer KEY METADADATA when the reader only has a key retriever (the
    regression this round fixed: resolve() was called without the
    metadata, so retriever-only FileDecryption failed)."""
    from parquet_go_spark.interop import pqcrypt, pqreader as r
    from parquet_go_spark.interop.pqwriter import write_table

    cols, want = _enc_write_cols()
    # no column_masters: every column rides the footer key
    enc = pqcrypt.wrapped_encryption(
        {"kf": FOOTER_KEY}, footer_master="kf")
    p = str(tmp_path / "fk.parquet")
    write_table(p, cols, row_group_rows=1500, encryption=enc)
    dec = pqcrypt.FileDecryption(
        key_retriever=pqcrypt.pyarrow_key_retriever(
            pqcrypt.LocalKeyUnwrap({"kf": FOOTER_KEY})))
    assert r.read_table(p, decryption=dec).cast(want.schema).equals(want)
    # use_threads=False: when many columns share ONE key (here: the
    # footer key), pyarrow's parallel column readers race on the shared
    # decryptor's AAD state and fail nondeterministically ("Failed
    # decryption finalization" ~25% of runs). pyarrow never authors
    # such files itself (its CryptoFactory has no uniform encryption),
    # so the race only surfaces on spec-legal foreign files like ours;
    # single-threaded reads are deterministic-correct (30/30 probed).
    theirs = pq.ParquetFile(
        p, decryption_properties=_pyarrow_decryption_props()).read(
            use_threads=False)
    assert theirs.cast(want.schema).equals(want)


def test_encrypted_write_plaintext_columns_and_direct_keys(tmp_path):
    """plaintext_columns opt-out + direct-DEK FileEncryption (no key
    material): the plaintext column reads without any key in
    plaintext-footer mode; full reads need only the raw DEKs."""
    from parquet_go_spark.interop import pqcrypt, pqreader as r
    from parquet_go_spark.interop.pqwriter import write_table

    cols, want = _enc_write_cols()
    enc = pqcrypt.FileEncryption(
        footer_key=FOOTER_KEY, column_keys={"x": COL_KEY},
        plaintext_columns={"y"}, plaintext_footer=True)
    p = str(tmp_path / "mixed.parquet")
    write_table(p, cols, row_group_rows=1500, encryption=enc)

    # keyless: schema + the plaintext column work, encrypted columns
    # fail with a clear error
    assert r.read_schema(p).names == ["x", "s", "y"]
    y = r.read_table(p, columns=["y"])
    assert y.column("y").equals(want.column("y"))
    with pytest.raises(ValueError, match="is encrypted"):
        r.read_table(p, columns=["x"])

    dec = pqcrypt.FileDecryption(footer_key=FOOTER_KEY,
                                 column_keys={"x": COL_KEY})
    assert r.read_table(p, decryption=dec).cast(want.schema).equals(want)


@pytest.mark.parametrize("opt,name", [
    ("column_keys", "xx"),          # typo of a top-level column
    ("plaintext_columns", "yy"),
    ("column_keys", "a"),           # struct field without its parent
    ("column_keys", "st.b"),        # wrong nested path
    ("plaintext_columns", "st"),    # a group, not a leaf
])
def test_encrypted_write_rejects_unknown_column_names(tmp_path, opt, name):
    """A column_keys / plaintext_columns entry that matches no dotted
    leaf fails the write, naming the entry, instead of silently
    falling back to the footer key."""
    from parquet_go_spark.interop import pqcrypt, pqreader as r
    from parquet_go_spark.interop.pqwriter import (
        ColumnSpec, Kind, StructColumnSpec, write_table)

    m = 100
    cols = [
        ColumnSpec("x", Kind.INT64, np.arange(m, dtype=np.int64)),
        StructColumnSpec("st", fields=[
            ("a", ColumnSpec("a", Kind.INT32,
                             np.arange(m, dtype=np.int32)))]),
    ]
    ok = str(tmp_path / "ok.parquet")
    write_table(ok, cols, encryption=pqcrypt.FileEncryption(
        footer_key=FOOTER_KEY, column_keys={"st.a": COL_KEY},
        plaintext_columns={"x"}))
    got = r.read_table(ok, decryption=pqcrypt.FileDecryption(
        footer_key=FOOTER_KEY, column_keys={"st.a": COL_KEY}))
    assert got.column("st").to_pylist() == [{"a": i} for i in range(m)]

    bad = ({"column_keys": {name: COL_KEY}} if opt == "column_keys"
           else {"plaintext_columns": {name}})
    p = tmp_path / "bad.parquet"
    with pytest.raises(ValueError, match=rf"FileEncryption\.{opt}: "
                                         rf"\['{name}'\]"):
        write_table(str(p), cols, encryption=pqcrypt.FileEncryption(
            footer_key=FOOTER_KEY, **bad))
    assert not p.exists()


def test_encrypted_write_negatives(tmp_path):
    """Wrong key and ciphertext tampering both fail GCM auth; the
    supply-aad-prefix mode refuses to read without the caller prefix;
    plaintext-footer visible metadata carries no statistics."""
    from parquet_go_spark.interop import pqcrypt, pqreader as r, thriftc
    from parquet_go_spark.interop.pqwriter import write_table

    cols, want = _enc_write_cols()
    enc = pqcrypt.FileEncryption(footer_key=FOOTER_KEY)
    p = str(tmp_path / "neg.parquet")
    write_table(p, cols, encryption=enc)
    with pytest.raises(ValueError, match="GCM authentication"):
        r.read_table(p, decryption=pqcrypt.FileDecryption(
            footer_key=b"f" * 16))
    blob = bytearray(open(p, "rb").read())
    blob[1234] ^= 0xFF
    p2 = str(tmp_path / "neg_tampered.parquet")
    open(p2, "wb").write(bytes(blob))
    with pytest.raises(ValueError, match="GCM authentication"):
        r.read_table(p2, decryption=pqcrypt.FileDecryption(
            footer_key=FOOTER_KEY))

    p3 = str(tmp_path / "supply.parquet")
    write_table(p3, cols, encryption=pqcrypt.FileEncryption(
        footer_key=FOOTER_KEY, aad_prefix=b"pfx",
        store_aad_prefix=False))
    with pytest.raises(ValueError, match="prefix"):
        r.read_table(p3, decryption=pqcrypt.FileDecryption(
            footer_key=FOOTER_KEY))
    got = r.read_table(p3, decryption=pqcrypt.FileDecryption(
        footer_key=FOOTER_KEY, aad_prefix=b"pfx"))
    assert got.cast(want.schema).equals(want)

    # plaintext footer: the VISIBLE ColumnMetaData of encrypted columns
    # must not leak statistics (field 12) — walk the raw thrift footer
    p4 = str(tmp_path / "pf_stats.parquet")
    write_table(p4, cols, encryption=pqcrypt.FileEncryption(
        footer_key=FOOTER_KEY, plaintext_footer=True),
        statistics=True)
    raw = open(p4, "rb").read()
    flen = int.from_bytes(raw[-8:-4], "little")
    fmd, _ = thriftc.read_struct(raw[len(raw) - 8 - flen:], 0)
    for rg in fmd[4]:
        for cc in rg[1]:
            assert 12 not in cc[3]


def test_encrypted_list_column_key_path_in_schema(tmp_path):
    """A list column with its own key: ENCRYPTION_WITH_COLUMN_KEY's
    path_in_schema is the leaf's schema path [l, list, element], the
    same as its ColumnMetaData path, while the writer still addresses
    the column as "l". Readers resolve the key by that path."""
    from parquet_go_spark.interop import pqcrypt, pqreader as r, thriftc
    from parquet_go_spark.interop.pqwriter import (
        ColumnSpec, Kind, write_table)

    lens = np.array([2, 0, 3, 1] * 25, dtype=np.int64)
    cols = [
        ColumnSpec("k", Kind.INT64, np.arange(100, dtype=np.int64)),
        ColumnSpec("l", Kind.INT64, np.arange(int(lens.sum()),
                                              dtype=np.int64),
                   lengths=lens),
    ]
    p = str(tmp_path / "list_key.parquet")
    write_table(p, cols, encryption=pqcrypt.FileEncryption(
        footer_key=FOOTER_KEY, column_keys={"l": COL_KEY},
        plaintext_footer=True))
    raw = open(p, "rb").read()
    flen = int.from_bytes(raw[-8:-4], "little")
    fmd, _ = thriftc.read_struct(raw[len(raw) - 8 - flen:], 0)
    cc = fmd[4][0][1][1]
    assert cc[8][2][1] == [b"l", b"list", b"element"] == cc[3][3]
    got = r.read_table(p, decryption=pqcrypt.FileDecryption(
        footer_key=FOOTER_KEY, column_keys={"l.list.element": COL_KEY}))
    off = np.concatenate([[0], np.cumsum(lens)])
    assert got.column("l").to_pylist() == [
        list(range(off[i], off[i + 1])) for i in range(len(lens))]


def test_missing_column_key_names_the_leaf_path(tmp_path):
    """An own-key column whose dotted path has no entry in column_keys
    fails at key resolution, naming the path and the names supplied —
    not later as a GCM error under the footer key."""
    from parquet_go_spark.interop import pqcrypt, pqreader as r
    from parquet_go_spark.interop.pqwriter import (
        ColumnSpec, Kind, write_table)

    lens = np.array([2, 0, 3, 1] * 25, dtype=np.int64)
    cols = [
        ColumnSpec("k", Kind.INT64, np.arange(100, dtype=np.int64)),
        ColumnSpec("l", Kind.INT64, np.arange(int(lens.sum()),
                                              dtype=np.int64),
                   lengths=lens),
    ]
    p = str(tmp_path / "list_key.parquet")
    write_table(p, cols, encryption=pqcrypt.FileEncryption(
        footer_key=FOOTER_KEY, column_keys={"l": COL_KEY}))
    with pytest.raises(ValueError, match=r"'l\.list\.element'.*\['l'\]"):
        r.read_table(p, decryption=pqcrypt.FileDecryption(
            footer_key=FOOTER_KEY, column_keys={"l": COL_KEY}))


def test_encrypted_export_roundtrip(spark, tmp_path):
    """Distributed encrypted export: export_parquet(encryption=
    EncryptionFactory) writes per-task encrypted files with FRESH DEKs
    per file; format("pqread") with the factory's master keys decodes
    them back equal; keyless readers get a clear error, and
    every file really is encrypted (PARE magic)."""
    import glob

    from parquet_go_spark.interop import export as pexport, pqcrypt, \
        pqreader

    df = (spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
          .select("o_orderkey", "o_custkey", "o_totalprice",
                  "o_orderpriority"))
    fac = pqcrypt.EncryptionFactory(
        {"kf": FOOTER_KEY, "kc": COL_KEY}, footer_master="kf",
        column_masters={"o_orderkey": "kc"})
    d = str(tmp_path / "enc_exp")
    pexport.export_parquet(spark, df, d, repo_col="o_orderpriority",
                           encryption=fac)

    files = sorted(glob.glob(d + "/*.parquet"))
    assert len(files) >= 2
    deks = set()
    for f in files:
        assert open(f, "rb").read(4) == b"PARE"
        # fresh footer DEK per file: unwrap each file's key material
        import json as _json

        raw = open(f, "rb").read()
        flen = int.from_bytes(raw[-8:-4], "little")
        from parquet_go_spark.interop import thriftc
        fcm, _ = thriftc.read_struct(raw[len(raw) - 8 - flen:], 0)
        km = _json.loads(fcm[2])
        deks.add(km["wrappedDEK"])
    assert len(deks) == len(files)  # no DEK (wrapping) shared

    from parquet_go_spark.sources import pqread as ds

    ds.register(spark)
    got = (spark.read.format("pqread").options(**_pqread_keys(fac.masters))
           .load(d))
    a = sorted(tuple(r) for r in got.collect())
    b = sorted(tuple(r) for r in df.collect())
    assert a == b

    with pytest.raises(Exception, match="encrypted|PARE"):
        pqreader.read_table(files[0])


def test_encrypted_bloom_and_page_index_pruning(tmp_path):
    """Encrypted files are first-class through the WHOLE pruning
    stack: bloom modules (GCM header + GCM/CTR bitset) and
    ColumnIndex/OffsetIndex modules decrypt, so a point probe on an
    encrypted sorted file decodes only the surviving pages and an
    absent-value probe decodes NOTHING. Keyless access stays sound:
    blooms contribute no bitsets, indexes abstain, whole-group reads
    fail with the clear needs-keys error."""
    import numpy as np

    import parquet_go_spark.interop.pqreader as pr
    from parquet_go_spark.codecs.kinds import Kind
    from parquet_go_spark.interop import pqbloom, pqcrypt
    from parquet_go_spark.interop.pqwriter import ColumnSpec, write_table

    enc = pqcrypt.wrapped_encryption(
        {"kf": FOOTER_KEY, "kc": COL_KEY}, footer_master="kf",
        column_masters={"k": "kc"})
    n = 40_000
    k = np.arange(n, dtype=np.int64)
    v = (k * 7 % 1000).astype(np.float64)
    p = str(tmp_path / "enc_prune.parquet")
    write_table(p, [ColumnSpec("k", Kind.INT64, k),
                    ColumnSpec("v", Kind.DOUBLE, v)],
                row_group_rows=10_000, page_rows=1_000,
                bloom_columns=["k"], page_index=True, encryption=enc)
    dec = _decryption()

    bl = pqbloom.read_blooms(p, decryption=dec)
    assert sorted(bl) == [(g, "k") for g in range(4)]
    assert pqbloom.read_blooms(p) == {}  # keyless: sound, empty
    assert pqbloom.bloom_column_names(p, decryption=dec) == ["k"]
    assert pqbloom.prune_files([p], "k", np.array([25_000]),
                               Kind.INT64, decryption=dec) == [p]
    assert pqbloom.prune_files([p], "k", np.array([90_000_000]),
                               Kind.INT64, decryption=dec) == []

    calls = {"n": 0}
    orig = pr._decode_page

    def spy(*a, **kw):
        calls["n"] += 1
        return orig(*a, **kw)

    pr._decode_page = spy
    try:
        t1 = pr.read_table(p, predicate=("k", "=", 25_000),
                           decryption=dec)
        n1 = calls["n"]
        t2 = pr.read_table(p, predicate=("k", "=", 90_000_000),
                           decryption=dec)
        n2 = calls["n"] - n1
    finally:
        pr._decode_page = orig
    assert t1.num_rows == 1 and t1.column("k")[0].as_py() == 25_000
    assert t1.column("v")[0].as_py() == (25_000 * 7) % 1000
    assert n1 <= 4  # one surviving page per projected column (+dict)
    assert t2.num_rows == 0 and n2 == 0  # bloom refuted all groups
    full = pr.read_table(p, decryption=dec)
    assert np.array_equal(np.asarray(full.column("k")), k)


def test_encrypted_page_index_pyarrow_both_algorithms(tmp_path):
    """parquet-cpp writes ColumnIndex/OffsetIndex as GCM modules in
    BOTH algorithms (indexes are thrift modules even in GCM_CTR
    files); our page-trimmed reader must decrypt them and still
    match pyarrow's values, and predicate reads must stay exact."""
    import pyarrow.compute as pc
    import pyarrow.parquet.encryption as pe

    import parquet_go_spark.interop.pqreader as pr

    factory, conf, _ = _kms_factory()
    t = _enc_table()
    for algo in ("AES_GCM_V1", "AES_GCM_CTR_V1"):
        enc_conf = pe.EncryptionConfiguration(
            footer_key="kf", column_keys={"kc": ["x", "s"]},
            encryption_algorithm=algo, double_wrapping=False)
        p = str(tmp_path / f"encidx_{algo}.parquet")
        props = factory.file_encryption_properties(conf, enc_conf)
        with pq.ParquetWriter(p, t.schema,
                              encryption_properties=props,
                              write_page_index=True,
                              data_page_size=8_000) as w:
            w.write_table(t.slice(0, 1500))
            w.write_table(t.slice(1500))
        dec = _decryption()
        assert pr.read_table(p, decryption=dec).cast(t.schema).equals(t)
        got = pr.read_table(p, decryption=dec,
                            predicate=("x", "<", 1000))
        assert got.num_rows == pc.sum(pc.less(t["x"], 1000)).as_py()


def test_encrypted_store_compaction(spark, tmp_path):
    """compact_export on an ENCRYPTED store: sources decode through
    our reader with the store's decryption, merged outputs re-encrypt
    with fresh per-file DEKs (encryption factory), codec/sort/bloom
    inheritance reads the encrypted footers, and a later resumed
    export still sees everything as done."""
    import glob
    import os

    from parquet_go_spark.interop import (
        compact, export as pexport, pqbloom, pqcrypt)

    df = (spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
          .select("o_orderkey", "o_custkey", "o_totalprice",
                  "o_orderpriority"))
    fac = pqcrypt.EncryptionFactory(
        {"kf": FOOTER_KEY, "kc": COL_KEY}, footer_master="kf",
        column_masters={"o_orderkey": "kc"})
    d = str(tmp_path / "enc_store")
    pexport.export_parquet(spark, df, d, repo_col="o_orderpriority",
                           target_chunk_bytes=6_000, encryption=fac,
                           bloom_cols=["o_orderkey"])
    files0 = glob.glob(d + "/*.parquet")
    assert len(files0) >= 4

    summ = compact.compact_export(
        spark, d, small_bytes=1 << 20, target_bytes=2 << 20,
        decryption=fac.decryption(), encryption=fac)
    merged = [r.file for r in summ.collect()]
    files1 = glob.glob(d + "/*.parquet")
    assert merged and len(files1) < len(files0)
    for f in files1:
        assert open(f, "rb").read(4) == b"PARE"  # still encrypted

    from parquet_go_spark.sources import pqread as ds

    ds.register(spark)
    got = (spark.read.format("pqread").options(**_pqread_keys(fac.masters))
           .load(d))
    assert sorted(map(tuple, got.collect())) \
        == sorted(map(tuple, df.collect()))
    for m in merged:
        assert pqbloom.bloom_column_names(
            os.path.join(d, m), fac.decryption()) == ["o_orderkey"]

    before = len(glob.glob(d + "/*.parquet"))
    pexport.export_parquet(spark, df, d, repo_col="o_orderpriority",
                           target_chunk_bytes=6_000, encryption=fac,
                           bloom_cols=["o_orderkey"], resume=True)
    assert len(glob.glob(d + "/*.parquet")) == before


@pytest.mark.parametrize("algo", ["AES_GCM_V1", "AES_GCM_CTR_V1"])
def test_double_wrapped_key_material_read(tmp_path, algo):
    """pyarrow's DEFAULT key-tools mode is DOUBLE wrapping: the KMS
    wraps a key-encryption key, and the DEK is wrapped locally under
    that KEK with AAD = the base64-decoded keyEncryptionKeyID. Files
    written with pyarrow defaults (no double_wrapping=False) must read
    back value-exact through the same LocalKeyUnwrap retriever, in
    both algorithms; a wrong master key fails at the KEK unwrap."""
    import pyarrow.parquet.encryption as pe

    from parquet_go_spark.interop import pqcrypt, pqreader as r

    factory, conf, _ = _kms_factory()
    enc_conf = pe.EncryptionConfiguration(
        footer_key="kf", column_keys={"kc": ["x", "s"]},
        encryption_algorithm=algo)  # double_wrapping defaults to True
    t = _enc_table()
    p = str(tmp_path / "dw.parquet")
    props = factory.file_encryption_properties(conf, enc_conf)
    with pq.ParquetWriter(p, t.schema, encryption_properties=props) as w:
        w.write_table(t.slice(0, 1500))
        w.write_table(t.slice(1500))
    ours = r.read_table(p, decryption=_decryption())
    assert ours.cast(t.schema).equals(t)
    bad = pqcrypt.FileDecryption(
        key_retriever=pqcrypt.pyarrow_key_retriever(
            pqcrypt.LocalKeyUnwrap(
                {"kf": b"0000000000000000", "kc": COL_KEY})))
    with pytest.raises(ValueError, match="unwrap"):
        r.read_table(p, decryption=bad)
