"""Every binary reader and media kernel on one malformed payload (and on a
NULL payload where the kernel defines a result for it): the exact error
row, the dropped row, or the NULL features plus ``decode_err`` each one
returns.  All cases run in one module-scoped pass over one session."""

import importlib
from pathlib import Path

import pytest

J = b"junk"
FILES = "path string, content binary"
MEDIA = "media_id long, payload binary"

# name: (module, input DDL, input rows, output schema, output rows)
CASES = {
    "warc_records": (
        "torcdb_spark.sources.warc", FILES, [("bad", J)],
        "path:string,record_offset:bigint,warc_type:string,"
        "target_uri:string,content_length:bigint,payload:binary",
        [("bad", -1, "_error", "expected WARC version line at offset 0",
          0, b"")],
    ),
    "zip_members": (
        "torcdb_spark.sources.warc", FILES, [("bad", J)],
        "path:string,member:string,n_bytes:bigint,payload:binary",
        [("bad", "_error", 0, b"File is not a zip file")],
    ),
    "tar_members": (
        "torcdb_spark.sources.warc", FILES, [("bad", J)],
        "path:string,member:string,key:string,n_bytes:bigint,"
        "payload:binary",
        [("bad", "_error", "_error", 0,
          b"file could not be opened successfully:\n- method gz: "
          b"ReadError('not a gzip file')\n- method bz2: "
          b"ReadError('not a bzip2 fi")],
    ),
    "manifest_list_entries": (
        "torcdb_spark.sources.iceberg", "table_id long, content binary",
        [(7, J)],
        "table_id:bigint,manifest_path:string,added_snapshot_id:bigint",
        [(7, "_error", -1)],
    ),
    "manifest_entries": (
        "torcdb_spark.sources.iceberg",
        "table_id long, name string, content binary", [(7, "m.avro", J)],
        "table_id:bigint,manifest_path:string,status:int,file_path:string,"
        "record_count:bigint,file_size_in_bytes:bigint",
        [(7, "m.avro", -1, "_error", 0, 0)],
    ),
    "gzip_member_lines": (
        "torcdb_spark.sources.ingest", FILES, [("bad", J)],
        "path:string,member_idx:bigint,n_bytes:bigint,payload:string",
        [("bad", -1, 0, "_error: not a gzip stream")],
    ),
    "arrow_ipc_columns": (
        "torcdb_spark.sources.arrow_ipc", FILES, [("bad", J)],
        "path:string,batch_idx:bigint,column:string,dtype:string,"
        "n_rows:bigint,null_count:bigint,long_sum:bigint,text_first:string",
        [("bad", -1, "_error",
          "Expected to read 1802401130 metadata bytes, but only read 0",
          0, 0, None, None)],
    ),
    "avro_records": (
        "torcdb_spark.sources.avro", FILES, [("bad", J)],
        "path:string,rec_idx:bigint,field:string,kind:string,"
        "long_value:bigint,double_value:double,text:string",
        [("bad", -1, "_error", "not an Avro object container file",
          None, None, None)],
    ),
    "parquet_footer_census": (
        "torcdb_spark.sources.parquet_meta", FILES, [("bad", J)],
        "path:string,n_rows:bigint,n_row_groups:bigint,n_columns:bigint,"
        "rg0_rows:bigint,col_names:string,col_types:string,"
        "id_min:bigint,id_max:bigint,n_nulls:bigint",
        [("bad", -1, 0, 0, 0, "_error",
          "Parquet file size is 4 bytes, smaller than the minimum file "
          "footer (8 bytes)", None, None, 0)],
    ),
    "parquet_page_census": (
        "torcdb_spark.sources.parquet_meta", FILES, [("bad", J)],
        "path:string,rg_idx:bigint,col_name:string,physical_type:string,"
        "codec:string,encodings:string,num_values:bigint,"
        "has_dict:boolean,size_eq:boolean,offset_ordered:boolean",
        [("bad", -1, "_error",
          "Parquet file size is 4 bytes, smaller than the minimum file "
          "footer (8 bytes)", None, None, 0, None, None, None)],
    ),
    "vectors_from_npy": (
        "torcdb_spark.sources.tensors", FILES, [("bad", J)],
        "path:string,row_idx:bigint,vec:array<float>,err:string",
        [("bad", -1, None, "not an npy payload")],
    ),
    "vectors_from_safetensors": (
        "torcdb_spark.sources.tensors", FILES, [("bad", J)],
        "path:string,tensor:string,row_idx:bigint,vec:array<float>,"
        "err:string",
        [("bad", "_error", -1, None, "truncated safetensors header")],
    ),
    "tfrecord_examples": (
        "torcdb_spark.sources.tfrecord", FILES, [("bad", J)],
        "path:string,rec_idx:bigint,feature:string,kind:string,"
        "n_values:bigint,int_sum:bigint,text:string",
        [("bad", -1, "_error", "truncated TFRecord length header",
          0, 0, None)],
    ),
    "decode_and_featurize": (
        "torcdb_spark.operators.multimodal", MEDIA, [(1, J), (2, None)],
        "media_id:bigint!,width:int,height:int,channels:int,"
        "mean_r:double,mean_g:double,mean_b:double,"
        "luma_hist:array<double>,decode_err:string",
        [(1, None, None, None, None, None, None, None,
          "NotImplementedError"),
         (2, None, None, None, None, None, None, None, "ValueError")],
    ),
    "extract_features": (
        "torcdb_spark.operators.multimodal", MEDIA, [(1, J), (2, None)],
        "media_id:bigint!,n_bytes:bigint,byte_mean:double,"
        "feature:array<float>",
        [(1, 4, 110.0, [0.0, 0.0, 0.0, 1.0, 0.0, 0.0, 0.0, 0.0]),
         (2, 0, 0.0, [0.0] * 8)],
    ),
    "audio_features": (
        "torcdb_spark.operators.multimodal", MEDIA, [(1, J)],
        "media_id:bigint,sample_rate:int,n_samples:bigint,"
        "duration_ms:bigint,rms:double,zcr:double",
        [],
    ),
    "opus_census": (
        "torcdb_spark.operators.multimodal", "doc_id long, payload binary",
        [(1, J)],
        "doc_id:bigint,pkt_idx:bigint,config:bigint,stereo:boolean,"
        "fcode:bigint,n_frames:bigint,frame_samples:bigint,"
        "pkt_samples:bigint,mode:string,bandwidth:string,"
        "granule_match:boolean",
        [(1, -1, 0, None, 0, 0, 0, 0, "_error: not an Ogg payload",
          None, None)],
    ),
    "audio_spectral_features": (
        "torcdb_spark.operators.multimodal", MEDIA, [(1, J)],
        "media_id:bigint,sample_rate:bigint,dominant_hz:double,"
        "centroid_hz:double,bandwidth_hz:double",
        [],
    ),
    "image_whash": (
        "torcdb_spark.operators.multimodal", MEDIA, [(1, J)],
        "media_id:bigint,whash:bigint",
        [(1, None)],
    ),
    "image_phash": (
        "torcdb_spark.operators.multimodal", MEDIA, [(1, J)],
        "media_id:bigint,phash:bigint",
        [(1, None)],
    ),
    "video_frame_features": (
        "torcdb_spark.operators.multimodal", MEDIA, [(1, J)],
        "media_id:bigint,frame_idx:bigint,width:bigint,height:bigint,"
        "mean_luma:double,decode_err:string",
        [(1, -1, None, None, None, "not a RIFF/AVI payload")],
    ),
}


def _schema(df) -> str:
    """``name:type`` per field, ``!`` marking a non-nullable one."""
    return ",".join(
        f"{f.name}:{f.dataType.simpleString()}{'' if f.nullable else '!'}"
        for f in df.schema
    )


@pytest.fixture(scope="module")
def poisoned(spark):
    out = {}
    for name, (module, ddl, rows, _, _) in CASES.items():
        kernel = getattr(importlib.import_module(module), name)
        df = kernel(spark.createDataFrame(rows, ddl))
        got = [
            tuple(bytes(v) if isinstance(v, bytearray) else v for v in r)
            for r in df.collect()
        ]
        out[name] = (_schema(df), sorted(got, key=lambda r: r[0]))
    return out


@pytest.mark.parametrize("name", sorted(CASES))
def test_kernel_on_poisoned_payload(poisoned, name):
    schema, rows = poisoned[name]
    assert schema == CASES[name][3]
    assert rows == CASES[name][4]


def test_binary_readers_use_the_payload_kernel():
    """No binary reader in sources/ or operators/multimodal.py, and no
    media stage of examples/multimodal_curation.py, calls mapInPandas
    itself: each hands one parse function to payload_rows
    (functions/payload.py) or one encoder to synth_udf.  The package has
    one binary pandas_udf, synth_udf."""
    pkg = Path(__file__).resolve().parents[1] / "torcdb_spark"
    readers = [*sorted((pkg / "sources").glob("*.py")),
               pkg / "operators" / "multimodal.py",
               pkg.parent / "examples" / "multimodal_curation.py"]
    assert [f.name for f in readers if ".mapInPandas(" in f.read_text()] == []
    assert sum(f.read_text().count('pandas_udf("binary")')
               for f in pkg.rglob("*.py")) == 1


def test_long_column_beside_a_null_keeps_every_bit(spark):
    """An undecodable image in the same Arrow batch as decodable ones
    leaves each 64-bit pHash exact: the kernel's frame keeps a long
    column holding a None as Python ints, not as rounded float64."""
    import numpy as np

    from torcdb_spark.operators.multimodal import (
        decode_image,
        encode_png,
        image_phash,
        phash64,
    )

    rng = np.random.default_rng(3)
    pays = [encode_png(rng.integers(0, 256, (16, 16, 3), dtype=np.uint8))
            for _ in range(6)]
    media = spark.createDataFrame([*enumerate(pays), (99, J)], MEDIA)
    got = {r.media_id: r.phash for r in image_phash(media.coalesce(1)).collect()}
    want = {i: phash64(decode_image(p)) for i, p in enumerate(pays)}
    assert any(abs(h) > 2**53 for h in want.values())
    assert got == {**want, 99: None}


def test_gzip_member_that_is_not_utf8_is_an_error_row(spark):
    """A member that does not decode as UTF-8 ends the file with the
    documented ``member_idx=-1`` error row after the members before it."""
    import gzip

    from torcdb_spark.sources.ingest import gzip_member_lines

    blob = gzip.compress(b"ok line\n") + gzip.compress(b"\xff\xfe")
    rows = gzip_member_lines(spark.createDataFrame([("a", blob)], FILES))
    assert [tuple(r) for r in rows.collect()] == [
        ("a", 0, 8, "ok line\n"),
        ("a", -1, 0, "_error: 'utf-8' codec can't decode byte 0xff in "
                     "position 0: invalid start byte"),
    ]
