"""S1 archive-aware ingest: magic-byte sniffing, zip/gzip expansion,
per-payload parser dispatch (the reference MIME-sniffs and unpacks zip
drops before parsing — Importer.java:199-211)."""

import gzip
import io
import os
import zipfile

import pytest
from conftest import MINIMAL_GML

from citykg.sources import (
    docs_from_text,
    expand_archives,
    read_city_archive,
    read_citygml,
    route_parse,
    sniff_payload,
    split_rejects,
)

# a committed stand-in of the same shape as the reference's agents test.gml
# (one cityObjectMember, one bldg:Building), not that file: any CityGML
# document exercises the dispatch and the archive path
TEST_GML = MINIMAL_GML

CJ = (
    '{"type":"CityJSON","version":"1.1","vertices":[[0,0,0],[1,0,0],[1,1,0],[0,1,0]],'
    '"CityObjects":{"B_%d":{"type":"Building","geometry":'
    '[{"type":"MultiSurface","lod":"2","boundaries":[[[0,1,2,3]]]}]}}}'
)


def test_sniff_payload():
    assert sniff_payload(b"PK\x03\x04rest") == "zip"
    assert sniff_payload(b"\x1f\x8b\x08") == "gzip"
    assert sniff_payload(b'  \n<?xml version="1.0"?><a/>') == "xml"
    assert sniff_payload(b"\xef\xbb\xbf{\"type\":\"CityJSON\"}") == "json"
    assert sniff_payload(b"plain text") == "unknown"


def _zip_bytes(members):
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        for name, data in members:
            zf.writestr(zipfile.ZipInfo(name, date_time=(1980, 1, 1, 0, 0, 0)), data)
    return buf.getvalue()


def test_expand_archives_zip_gz_nested(spark):
    inner = _zip_bytes([("inner.json", CJ % 1)])
    gz = gzip.compress((CJ % 2).encode(), mtime=0)
    outer = _zip_bytes([("nested.zip", inner), ("two.json.gz", gz), ("three.json", CJ % 3)])
    files = spark.createDataFrame([("drop.zip", bytearray(outer))], "path string, content binary")
    rows = {r.path: r.value for r in expand_archives(files).collect()}
    assert set(rows) == {
        "drop.zip!nested.zip!inner.json",
        "drop.zip!two.json",
        "drop.zip!three.json",
    }
    assert rows["drop.zip!two.json"] == CJ % 2


def test_expand_archives_member_cap(spark):
    bomb = _zip_bytes([(f"m{i}.json", CJ % i) for i in range(20)])
    files = spark.createDataFrame([("bomb.zip", bytearray(bomb))], "path string, content binary")
    rows = expand_archives(files, max_members=5).collect()
    overflow = [r for r in rows if r.path.endswith("!_overflow")]
    assert len(overflow) == 1 and len(rows) == 6  # 5 emitted + 1 audit row


def test_route_parse_dispatch_and_reject(spark):
    gml_text = open(TEST_GML).read()
    files = spark.createDataFrame(
        [("a", gml_text), ("b", CJ % 7), ("c", "neither xml nor json")],
        "path string, value string",
    )
    docs = docs_from_text(files, route_parse)
    good, rejects = split_rejects(docs)
    ids = {r.doc_id for r in good.collect()}
    assert "B_7" in ids and len(ids) >= 2  # CityJSON + CityGML both parsed
    rej = rejects.collect()
    assert len(rej) == 1 and "ValueError" in rej[0].spans[0].text


@pytest.mark.parametrize("rename", [False, True])
def test_zipped_reference_fixture_equals_bare(spark, tmp_path, rename):
    # a zipped (and optionally extension-lying) copy of the CityGML
    # fixture must parse to the identical doc set — bytes decide, not names
    zp = os.path.join(tmp_path, "fixtures.zip" if not rename else "fixtures.dat")
    with zipfile.ZipFile(zp, "w") as zf:
        zf.write(TEST_GML, "renamed.txt" if rename else "test.gml")
    a = read_city_archive(spark, zp).collect()
    b = read_citygml(spark, TEST_GML).collect()
    key = lambda rows: sorted(
        (r.doc_id, tuple((s.kind, s.text, s.media_ref, s.offset) for s in r.spans))
        for r in rows
    )
    assert key(a) == key(b) and len(a) > 0


def test_media_files_and_teximage_triples(spark, tmp_path_factory):
    """P19 file ingest: binaryFile scan -> magic-byte header decode (a
    lying extension must not matter) -> T_TEX_IMAGE-ordered triple rows
    with md5(uri) subjects; unrecognized bytes yield NULL mime/dims and
    emit no mime triple (blank-node policy)."""
    import hashlib
    import os

    from citykg.ops.multimodal import synth_image_bytes
    from citykg.sources import media_files, teximage_triples
    from citykg.vocab import DEFAULT_BASE

    d = str(tmp_path_factory.mktemp("media"))
    with open(os.path.join(d, "a.png"), "wb") as f:
        f.write(synth_image_bytes("png", 12, 7))
    # lying extension: BMP bytes named .png — sniff must say bmp
    with open(os.path.join(d, "liar.png"), "wb") as f:
        f.write(synth_image_bytes("bmp", 5, 9))
    with open(os.path.join(d, "junk.bin"), "wb") as f:
        f.write(b"not an image at all")

    m = {r.uri: r for r in media_files(spark, d).collect()}
    assert m["a.png"].mime == "image/png" and (m["a.png"].width, m["a.png"].height) == (12, 7)
    assert m["liar.png"].mime == "image/bmp" and m["liar.png"].height == 9
    assert m["junk.bin"].mime is None and m["junk.bin"].width is None

    t = teximage_triples(media_files(spark, d)).collect()
    subj = f"{DEFAULT_BASE}/teximage/{hashlib.md5(b'a.png').hexdigest()}/"
    rows = sorted([(r.pred, r.obj, r.pos) for r in t if r.subj == subj])
    assert rows == [
        ("ocgml:id", subj, 0),
        ("ocgml:texImageURI", "a.png", 1),
        ("ocgml:texMimeType", "image/png", 2),
    ]
    junk_subj = f"{DEFAULT_BASE}/teximage/{hashlib.md5(b'junk.bin').hexdigest()}/"
    junk_preds = {r.pred for r in t if r.subj == junk_subj}
    assert junk_preds == {"ocgml:id", "ocgml:texImageURI"}  # no mime triple
    assert all(r.graph == "teximage" for r in t)


def test_validate_spans_rules(spark):
    """Schema-rule validator: each rule observed passing AND failing on
    crafted spans; geometry rules vacuous without a coords attribute."""
    from citykg.sources import validate_spans

    rows = [
        ("d1", "surface_geometry", "gmlId=S1;coords=0#0#0#9#0#0#0#0#0"),   # all ok
        ("d2", "surface_geometry", "coords=0#0#0#9#0#0#0#0#0"),           # no gmlId
        ("d3", "surface_geometry", "gmlId=S3;coords=0#0#0#9#0"),          # stride+closure fail
        ("d4", "surface_geometry", "gmlId=S4;coords=a#0#0#9#0#0#a#0#0"),  # numeric fail (closure: a==a ok)
        ("d5", "not_a_kind", "gmlId=S5;name=x"),                          # unknown kind, no geom
    ]
    df = spark.createDataFrame(rows, "doc_id string, kind string, text string")
    got = {(r.doc_id, r.rule): r.ok for r in validate_spans(df).collect()}
    assert got[("d1", "known_kind")] and got[("d1", "geom_closed")]
    assert not got[("d2", "has_gml_id")] and got[("d2", "geom_stride3")]
    assert not got[("d3", "geom_stride3")] and not got[("d3", "geom_closed")]
    assert not got[("d4", "geom_numeric")] and got[("d4", "geom_closed")]
    assert not got[("d5", "known_kind")] and got[("d5", "geom_stride3")]  # vacuous
