"""QuakeML / StationXML ingest + export (pure stdlib parser)."""

import pytest

from obsplus_spark.sources.quakeml import (
    _iso_to_ns,
    _ns_to_iso,
    event_to_quakeml,
    parse_quakeml,
    parse_stationxml,
    quakeml_to_tree,
)

NS = 1_000_000_000

QML = """<?xml version="1.0"?>
<q:quakeml xmlns:q="http://quakeml.org/xmlns/quakeml/1.2"
           xmlns="http://quakeml.org/xmlns/bed/1.2">
 <eventParameters publicID="smi:local/catalog">
  <event publicID="smi:local/ev1">
   <description><text>test quake</text></description>
   <preferredOriginID>smi:local/or1</preferredOriginID>
   <preferredMagnitudeID>smi:local/mag1</preferredMagnitudeID>
   <creationInfo><creationTime>2024-01-02T03:04:05Z</creationTime></creationInfo>
   <origin publicID="smi:local/or1">
    <time><value>2024-01-02T03:00:00.1234Z</value></time>
    <latitude><value>40.5</value></latitude>
    <longitude><value>-111.25</value></longitude>
    <depth><value>7000.0</value></depth>
   </origin>
   <magnitude publicID="smi:local/mag1">
    <mag><value>2.3</value></mag>
    <type>ML</type>
    <originID>smi:local/or1</originID>
   </magnitude>
   <pick publicID="smi:local/p1">
    <time><value>2024-01-02T03:00:01Z</value></time>
    <waveformID networkCode="UU" stationCode="CAPS"
                locationCode="01" channelCode="EHZ"/>
    <phaseHint>P</phaseHint>
    <evaluationStatus>reviewed</evaluationStatus>
   </pick>
  </event>
  <event publicID="smi:local/ev2"/>
 </eventParameters>
</q:quakeml>
"""

SXML = """<?xml version="1.0"?>
<FDSNStationXML xmlns="http://www.fdsn.org/xml/station/1" schemaVersion="1.1">
 <Network code="UU">
  <Station code="CAPS">
   <Channel code="EHZ" locationCode="01"
            startDate="2020-01-01T00:00:00Z" endDate="2030-01-01T00:00:00Z">
    <Latitude>40.5</Latitude>
    <Longitude>-111.25</Longitude>
    <Elevation>2000.0</Elevation>
    <Depth>0.0</Depth>
    <SampleRate>100.0</SampleRate>
   </Channel>
   <Channel code="EHN" locationCode="01">
    <Latitude>40.5</Latitude><Longitude>-111.25</Longitude>
    <Elevation>2000.0</Elevation><Depth>0.0</Depth>
    <SampleRate>100.0</SampleRate>
   </Channel>
  </Station>
 </Network>
</FDSNStationXML>
"""


def test_parse_quakeml_fields():
    rows = parse_quakeml(QML, "c.xml")
    assert len(rows) == 2
    ev = rows[0]
    assert ev["event_id"] == "smi:local/ev1"
    assert ev["event_description"] == "test quake"
    assert ev["preferred_origin_id"] == "smi:local/or1"
    assert ev["creation_time"] == _iso_to_ns("2024-01-02T03:04:05Z")
    o = ev["origins"][0]
    assert o["latitude"] == 40.5 and o["depth"] == 7000.0
    assert o["time"] == _iso_to_ns("2024-01-02T03:00:00.1234Z")
    assert ev["magnitudes"][0]["mag"] == 2.3
    p = ev["picks"][0]
    assert (p["network"], p["station"], p["channel"]) == ("UU", "CAPS", "EHZ")
    assert p["phase_hint"] == "P"
    # empty event: lists empty, fields None
    assert rows[1]["origins"] == [] and rows[1]["preferred_origin_id"] is None


def test_iso_ns_roundtrip():
    for iso in ("2024-01-02T03:00:00Z", "2024-01-02T03:00:00.1234Z",
                "1999-12-31T23:59:59.000000001Z"):
        ns_val = _iso_to_ns(iso)
        assert _iso_to_ns(_ns_to_iso(ns_val)) == ns_val
    assert _iso_to_ns(None) is None
    assert _iso_to_ns("not a date") is None


def test_event_xml_roundtrip_python():
    ev = parse_quakeml(QML)[0]
    xml = event_to_quakeml(ev)
    back = parse_quakeml(f"<quakeml><eventParameters>{xml}</eventParameters></quakeml>")
    assert back[0] == ev


def test_parse_garbage():
    assert parse_quakeml(b"<<<not xml") == []
    assert parse_quakeml(b"<root><other/></root>") == []
    assert parse_stationxml(b"junk") == []


def test_parse_stationxml_rows():
    rows = parse_stationxml(SXML)
    assert len(rows) == 2
    r = rows[0]
    assert (r["network"], r["station"], r["location"], r["channel"]) == (
        "UU", "CAPS", "01", "EHZ",
    )
    assert r["sample_rate"] == 100.0
    assert r["start_date"] == _iso_to_ns("2020-01-01T00:00:00Z")
    assert rows[1]["start_date"] is None  # undated channel


def test_spark_quakeml_pipeline(spark, tmp_path):
    from obsplus_spark.sources.quakeml import (
        quakeml_to_tree,
        stationxml_to_df,
        tree_to_quakeml,
    )
    from obsplus_spark.sources.summarize import binary_file_scan

    d = tmp_path / "qml"
    d.mkdir()
    (d / "cat1.xml").write_text(QML)
    (d / "cat2.xml").write_text(QML.replace("ev1", "ev3").replace("ev2", "ev4"))
    (d / "bad.xml").write_text("<<<")
    files = binary_file_scan(spark, str(d), glob="*.xml")
    tree = quakeml_to_tree(files)
    got = {r.event_id for r in tree.collect()}
    assert got == {"smi:local/ev1", "smi:local/ev2", "smi:local/ev3", "smi:local/ev4"}

    # spark-side export → re-parse round trip preserves the populated event
    xml_df = tree_to_quakeml(tree.filter("event_id = 'smi:local/ev1'"))
    xml = xml_df.collect()[0].quakeml
    back = parse_quakeml(
        f"<quakeml><eventParameters>{xml}</eventParameters></quakeml>"
    )[0]
    orig = parse_quakeml(QML)[0]
    assert back == orig

    s = tmp_path / "sxml"
    s.mkdir()
    (s / "inv.xml").write_text(SXML)
    sdf = stationxml_to_df(binary_file_scan(spark, str(s), glob="*.xml"))
    assert sdf.count() == 2
    assert {r.channel for r in sdf.collect()} == {"EHZ", "EHN"}


def test_eventbank_quakeml_ingest(spark, tmp_path):
    from obsplus_spark.sources.bank import EventBank
    from obsplus_spark.sources.quakeml import update_eventbank_from_files

    d = tmp_path / "qml"
    d.mkdir()
    (d / "cat1.xml").write_text(QML)
    bank = EventBank(spark, tmp_path / "bank")
    update_eventbank_from_files(spark, bank, str(d), incremental=False)
    idx = bank.read_index()
    assert idx.count() == 2
    got = bank.get_events(minmagnitude=2.0)
    rows = got.collect()
    assert len(rows) == 1
    assert rows[0].event_id == "smi:local/ev1"
    assert rows[0].picks[0]["station"] == "CAPS"


def _qml(events):
    body = "".join(
        f'<event publicID="{eid}"><origin publicID="{eid}/o">'
        f"<time><value>{t}</value></time>"
        "<latitude><value>40.5</value></latitude>"
        "<longitude><value>-111.25</value></longitude></origin>"
        f'<magnitude publicID="{eid}/m"><mag><value>{mag}</value></mag></magnitude>'
        "</event>"
        for eid, t, mag in events
    )
    return f"<quakeml><eventParameters>{body}</eventParameters></quakeml>"


def test_eventbank_quakeml_incremental_ingest(spark, tmp_path):
    import time

    from obsplus_spark.sources.bank import EventBank
    from obsplus_spark.sources.quakeml import update_eventbank_from_files

    d = tmp_path / "qml"
    d.mkdir()
    (d / "cat1.xml").write_text(QML)
    bank = EventBank(spark, tmp_path / "bank")
    update_eventbank_from_files(spark, bank, str(d))

    # a second file lands: one new event, one re-issued event_id whose
    # magnitude changed; cat1.xml is not re-read
    time.sleep(0.05)
    (d / "cat2.xml").write_text(
        _qml([
            ("smi:local/ev1", "2024-01-02T03:00:00.1234Z", 3.1),
            ("smi:local/ev3", "2024-01-03T00:00:00Z", 1.7),
        ])
    )
    update_eventbank_from_files(spark, bank, str(d))

    def tables():
        idx = sorted(
            (r.event_id, r.magnitude)
            for r in bank.read_index().collect()
        )
        payload = sorted(
            (r.event_id, tuple(m["mag"] for m in r.magnitudes))
            for r in bank.get_events().collect()
        )
        return idx, payload

    idx, payload = tables()
    assert idx == [
        ("smi:local/ev1", 3.1),
        ("smi:local/ev2", None),
        ("smi:local/ev3", 1.7),
    ]
    assert payload == [
        ("smi:local/ev1", (3.1,)),
        ("smi:local/ev2", ()),
        ("smi:local/ev3", (1.7,)),
    ]

    # nothing new: a third incremental run leaves both tables unchanged
    update_eventbank_from_files(spark, bank, str(d))
    assert tables() == (idx, payload)


RICH_QML = """<?xml version="1.0"?>
<q:quakeml xmlns:q="http://quakeml.org/xmlns/quakeml/1.2"
           xmlns="http://quakeml.org/xmlns/bed/1.2">
 <eventParameters publicID="smi:local/cat">
  <event publicID="smi:local/rich1">
   <description><text>rich test</text></description>
   <type>earthquake</type>
   <preferredOriginID>smi:local/o1</preferredOriginID>
   <preferredMagnitudeID>smi:local/m1</preferredMagnitudeID>
   <preferredFocalMechanismID>smi:local/fm1</preferredFocalMechanismID>
   <creationInfo><agencyID>AGY</agencyID><author>alice</author>
     <creationTime>2020-01-01T00:00:05Z</creationTime>
     <version>v9</version></creationInfo>
   <origin publicID="smi:local/o1">
    <time><value>2020-01-01T00:00:00Z</value></time>
    <latitude><value>40.5</value></latitude>
    <longitude><value>-111.25</value></longitude>
    <depth><value>5000.0</value><uncertainty>250.0</uncertainty></depth>
    <quality>
      <associatedPhaseCount>7</associatedPhaseCount>
      <usedPhaseCount>5</usedPhaseCount>
      <standardError>0.3</standardError>
      <azimuthalGap>120.0</azimuthalGap>
    </quality>
    <originUncertainty><horizontalUncertainty>800.0</horizontalUncertainty></originUncertainty>
    <arrival publicID="smi:local/ar1">
      <pickID>smi:local/p1</pickID>
      <phase>P</phase>
      <azimuth>35.0</azimuth>
      <distance>0.5</distance>
      <timeResidual>0.02</timeResidual>
      <timeWeight>1.0</timeWeight>
      <earthModelID>smi:local/iasp91</earthModelID>
    </arrival>
   </origin>
   <magnitude publicID="smi:local/m1">
    <mag><value>2.5</value><uncertainty>0.1</uncertainty></mag>
    <type>ML</type>
    <originID>smi:local/o1</originID>
    <stationCount>4</stationCount>
    <evaluationStatus>reviewed</evaluationStatus>
   </magnitude>
   <pick publicID="smi:local/p1">
    <time><value>2020-01-01T00:00:01.5Z</value><uncertainty>0.05</uncertainty></time>
    <waveformID networkCode="UU" stationCode="CAPS" locationCode="" channelCode="HHZ"/>
    <onset>impulsive</onset>
    <phaseHint>P</phaseHint>
    <polarity>positive</polarity>
    <evaluationMode>manual</evaluationMode>
    <creationInfo><author>bob</author></creationInfo>
   </pick>
   <amplitude publicID="smi:local/amp1">
    <genericAmplitude><value>1.5e-06</value></genericAmplitude>
    <type>A</type>
    <unit>m/s</unit>
    <period><value>0.2</value></period>
    <snr>12.0</snr>
    <timeWindow><begin>0.0</begin><end>2.0</end>
      <reference>2020-01-01T00:00:01Z</reference></timeWindow>
    <pickID>smi:local/p1</pickID>
    <magnitudeHint>ML</magnitudeHint>
    <waveformID networkCode="UU" stationCode="CAPS" locationCode="" channelCode="HHZ"/>
   </amplitude>
   <stationMagnitude publicID="smi:local/sm1">
    <originID>smi:local/o1</originID>
    <mag><value>2.4</value></mag>
    <type>ML</type>
    <amplitudeID>smi:local/amp1</amplitudeID>
    <waveformID networkCode="UU" stationCode="CAPS" locationCode="" channelCode="HHZ"/>
   </stationMagnitude>
   <focalMechanism publicID="smi:local/fm1">
    <triggeringOriginID>smi:local/o1</triggeringOriginID>
    <nodalPlanes>
     <nodalPlane1><strike><value>30.0</value></strike>
       <dip><value>60.0</value></dip><rake><value>-90.0</value></rake></nodalPlane1>
     <nodalPlane2><strike><value>210.0</value></strike>
       <dip><value>30.0</value></dip><rake><value>-90.0</value></rake></nodalPlane2>
    </nodalPlanes>
    <azimuthalGap>45.0</azimuthalGap>
    <stationPolarityCount>12</stationPolarityCount>
    <misfit>0.15</misfit>
    <momentTensor publicID="smi:local/mt1">
      <scalarMoment><value>1.2e+15</value></scalarMoment>
    </momentTensor>
   </focalMechanism>
  </event>
 </eventParameters>
</q:quakeml>
"""


def test_parse_rich_quakeml():
    rows = parse_quakeml(RICH_QML)
    assert len(rows) == 1
    ev = rows[0]
    assert ev["event_type"] == "earthquake"
    assert ev["author"] == "alice" and ev["version"] == "v9"
    assert ev["preferred_focal_mechanism_id"] == "smi:local/fm1"
    o = ev["origins"][0]
    assert o["quality"]["used_phase_count"] == 5
    assert o["quality"]["azimuthal_gap"] == 120.0
    assert o["horizontal_uncertainty"] == 800.0
    assert o["vertical_uncertainty"] == 250.0
    assert len(o["arrivals"]) == 1
    ar = o["arrivals"][0]
    assert ar["pick_id"] == "smi:local/p1" and ar["phase"] == "P"
    assert ar["time_weight"] == 1.0
    p = ev["picks"][0]
    assert p["onset"] == "impulsive" and p["polarity"] == "positive"
    assert p["uncertainty"] == 0.05 and p["author"] == "bob"
    a = ev["amplitudes"][0]
    assert a["generic_amplitude"] == 1.5e-6 and a["unit"] == "m/s"
    assert a["time_begin"] == 0.0 and a["time_end"] == 2.0
    assert a["reference"] == 1577836801 * 10**9
    sm = ev["station_magnitudes"][0]
    assert sm["mag"] == 2.4 and sm["amplitude_id"] == "smi:local/amp1"
    fm = ev["focal_mechanisms"][0]
    assert fm["strike_1"] == 30.0 and fm["dip_2"] == 30.0
    assert fm["scalar_moment"] == 1.2e15
    m = ev["magnitudes"][0]
    assert m["uncertainty"] == 0.1 and m["station_count"] == 4.0


def test_rich_xml_roundtrip_python():
    """serialize(parse(x)) == parse(x) over every branch the engine
    carries — the serializer is the exact inverse on its own subset."""
    orig = parse_quakeml(RICH_QML)[0]
    xml = event_to_quakeml(orig)
    back = parse_quakeml(
        f"<quakeml><eventParameters>{xml}</eventParameters></quakeml>"
    )[0]
    assert back == orig


def test_rich_spark_roundtrip(spark, tmp_path):
    """Distributed path: rich file → quakeml_to_tree → sub-entity
    extractors produce the parsed values."""
    from obsplus_spark.operators.event_tree import (
        amplitudes_to_df,
        arrivals_to_df,
        events_to_df,
        focal_mechanisms_to_df,
        station_magnitudes_to_df,
    )
    from obsplus_spark.sources.summarize import binary_file_scan

    d = tmp_path / "rich"
    d.mkdir()
    (d / "rich.xml").write_text(RICH_QML)
    tree = quakeml_to_tree(binary_file_scan(spark, str(d), glob="*.xml"))
    ev = events_to_df(tree).collect()[0]
    assert ev.author == "alice" and ev.version == "v9"
    assert ev.used_phase_count == 5 and ev.associated_phase_count == 7
    assert ev.standard_error == 0.3
    assert ev.horizontal_uncertainty == 800.0
    assert ev.vertical_uncertainty == 250.0
    amp = amplitudes_to_df(tree).collect()[0]
    assert amp.generic_amplitude == 1.5e-6 and amp.seed_id == "UU.CAPS..HHZ"
    ar = arrivals_to_df(tree).collect()[0]
    assert ar.origin_id == "smi:local/o1" and ar.phase == "P"
    sm = station_magnitudes_to_df(tree).collect()[0]
    assert sm.mag == 2.4
    fm = focal_mechanisms_to_df(tree).collect()[0]
    assert fm.strike_1 == 30.0 and fm.station_polarity_count == 12
