"""QuakeML / StationXML ingest and export — pure stdlib ``xml.etree``.

The reference ingests catalogs with obspy's QuakeML reader
(``bank/eventbank.py:267-327 put_events`` → ``obspy.read_events``) and
station metadata with its StationXML reader. Both formats are public FDSN
XML schemas, and the subset the engine's nested event schema carries
(event → origins[+arrivals/quality/uncertainty] / magnitudes / picks /
amplitudes / station_magnitudes / focal_mechanisms, channel rows) parses
fine with ElementTree — no obspy.

Distribution shape: files arrive via ``binaryFile`` scan, parse runs in
an Arrow-batched ``mapInPandas`` (bytes stay on executors, one task per
file batch), rows land in the nested-event / station-index schemas used
everywhere else. Export is the inverse per-row serializer.
"""

from __future__ import annotations

import logging
from collections.abc import Iterator
from datetime import datetime, timezone
from xml.etree import ElementTree as ET

from pyspark.sql import DataFrame

_log = logging.getLogger(__name__)

NS = 1_000_000_000


def _strip_ns(tag: str) -> str:
    return tag.rsplit("}", 1)[-1]


def _iso_to_ns(text: str | None) -> int | None:
    if not text:
        return None
    try:
        t = text.strip().replace("Z", "+00:00")
        dt = datetime.fromisoformat(t)
        if dt.tzinfo is None:
            dt = dt.replace(tzinfo=timezone.utc)
        # integer-second part exact, fraction re-derived to ns
        frac_ns = 0
        if "." in t:
            frac = t.split(".", 1)[1]
            for sep in "+-":
                frac = frac.split(sep, 1)[0]
            frac_ns = int(round(float("0." + frac) * NS)) if frac else 0
        whole = dt.replace(microsecond=0)
        return int(whole.timestamp()) * NS + frac_ns
    except ValueError:
        return None


def _ns_to_iso(ns_val: int | None) -> str | None:
    if ns_val is None:
        return None
    sec, rem = divmod(int(ns_val), NS)
    dt = datetime.fromtimestamp(sec, tz=timezone.utc)
    base = dt.strftime("%Y-%m-%dT%H:%M:%S")
    return f"{base}.{rem:09d}Z" if rem else base + "Z"


def _child(el, name):
    for c in el:
        if _strip_ns(c.tag) == name:
            return c
    return None


def _value(el, name, conv=None):
    """<name><value>x</value></name> → x (QuakeML's RealQuantity shape)."""
    c = _child(el, name)
    if c is None:
        return None
    v = _child(c, "value")
    text = (v.text if v is not None else c.text) or None
    if text is None:
        return None
    return conv(text) if conv else text.strip()


def _uncert(el, name) -> float | None:
    """<name><uncertainty>x</uncertainty></name> (QuantityError leg)."""
    c = _child(el, name)
    if c is None:
        return None
    u = _child(c, "uncertainty")
    try:
        return float(u.text) if u is not None and u.text else None
    except ValueError:
        return None


def _text(el, name) -> str | None:
    c = _child(el, name)
    if c is None or c.text is None:
        return None
    return c.text.strip() or None


def _float(el, name) -> float | None:
    t = _text(el, name)
    try:
        return float(t) if t is not None else None
    except ValueError:
        return None


def _int(el, name) -> int | None:
    t = _text(el, name)
    try:
        return int(t) if t is not None else None
    except ValueError:
        return None


def _creation(el) -> dict:
    """<creationInfo> → creation_time/author/agency_id subset."""
    ci = _child(el, "creationInfo")
    if ci is None:
        return {"creation_time": None, "author": None, "agency_id": None}
    return {
        "creation_time": _iso_to_ns(_text(ci, "creationTime")),
        "author": _text(ci, "author"),
        "agency_id": _text(ci, "agencyID"),
    }


def _wf(el) -> dict:
    """<waveformID networkCode=... /> → nslc subset."""
    wf = _child(el, "waveformID")
    if wf is None:
        return {"network": None, "station": None, "location": None, "channel": None}
    return {
        "network": wf.get("networkCode"),
        "station": wf.get("stationCode"),
        "location": wf.get("locationCode"),
        "channel": wf.get("channelCode"),
    }


def _parse_arrival(c) -> dict:
    row = {
        "resource_id": c.get("publicID"),
        "pick_id": _text(c, "pickID"),
        "phase": _text(c, "phase"),
        "time_correction": _float(c, "timeCorrection"),
        "azimuth": _float(c, "azimuth"),
        "distance": _float(c, "distance"),
        "takeoff_angle": _value(c, "takeoffAngle", float),
        "time_residual": _float(c, "timeResidual"),
        "horizontal_slowness_residual": _float(c, "horizontalSlownessResidual"),
        "backazimuth_residual": _float(c, "backazimuthResidual"),
        "time_weight": _float(c, "timeWeight"),
        "horizontal_slowness_weight": _float(c, "horizontalSlownessWeight"),
        "backazimuth_weight": _float(c, "backazimuthWeight"),
        "earth_model_id": _text(c, "earthModelID"),
    }
    row.update(_creation(c))
    row.update(_wf(c))
    return row


def _parse_origin(c) -> dict:
    row = {
        "resource_id": c.get("publicID"),
        "time": _value(c, "time", _iso_to_ns),
        "latitude": _value(c, "latitude", float),
        "longitude": _value(c, "longitude", float),
        "depth": _value(c, "depth", float),
        "quality": None,
        "horizontal_uncertainty": None,
        "vertical_uncertainty": _uncert(c, "depth"),
        "arrivals": [
            _parse_arrival(a) for a in c if _strip_ns(a.tag) == "arrival"
        ],
    }
    q = _child(c, "quality")
    if q is not None:
        row["quality"] = {
            "associated_phase_count": _int(q, "associatedPhaseCount"),
            "used_phase_count": _int(q, "usedPhaseCount"),
            "standard_error": _float(q, "standardError"),
            "azimuthal_gap": _float(q, "azimuthalGap"),
        }
    ou = _child(c, "originUncertainty")
    if ou is not None:
        row["horizontal_uncertainty"] = _float(ou, "horizontalUncertainty")
    row.update(_creation(c))
    return row


def _parse_magnitude(c) -> dict:
    mag_el = _child(c, "mag")
    row = {
        "resource_id": c.get("publicID"),
        "mag": (
            float(_child(mag_el, "value").text)
            if mag_el is not None and _child(mag_el, "value") is not None
            else None
        ),
        "magnitude_type": _value(c, "type"),
        "origin_id": _text(c, "originID"),
        "method_id": _text(c, "methodID"),
        "station_count": _float(c, "stationCount"),
        "azimuthal_gap": _float(c, "azimuthalGap"),
        "evaluation_mode": _text(c, "evaluationMode"),
        "evaluation_status": _text(c, "evaluationStatus"),
        "uncertainty": _uncert(c, "mag"),
        "lower_uncertainty": None,
        "upper_uncertainty": None,
        "confidence_level": None,
    }
    row.update(_creation(c))
    return row


def _parse_pick(c) -> dict:
    row = {
        "resource_id": c.get("publicID"),
        "time": _value(c, "time", _iso_to_ns),
        "phase_hint": _value(c, "phaseHint"),
        "evaluation_status": _value(c, "evaluationStatus"),
        "onset": _text(c, "onset"),
        "polarity": _text(c, "polarity"),
        "evaluation_mode": _text(c, "evaluationMode"),
        "filter_id": _text(c, "filterID"),
        "method_id": _text(c, "methodID"),
        "horizontal_slowness": _value(c, "horizontalSlowness", float),
        "backazimuth": _value(c, "backazimuth", float),
        "uncertainty": _uncert(c, "time"),
        "lower_uncertainty": None,
        "upper_uncertainty": None,
        "confidence_level": None,
    }
    row.update(_creation(c))
    row.update(_wf(c))
    return row


def _parse_amplitude(c) -> dict:
    row = {
        "resource_id": c.get("publicID"),
        "generic_amplitude": _value(c, "genericAmplitude", float),
        "type": _text(c, "type"),
        "category": _text(c, "category"),
        "unit": _text(c, "unit"),
        "magnitude_hint": _text(c, "magnitudeHint"),
        "filter_id": _text(c, "filterID"),
        "method_id": _text(c, "methodID"),
        "period": _value(c, "period", float),
        "snr": _float(c, "snr"),
        "pick_id": _text(c, "pickID"),
        "reference": None,
        "time_begin": None,
        "time_end": None,
        "scaling_time": _value(c, "scalingTime", _iso_to_ns),
        "evaluation_mode": _text(c, "evaluationMode"),
        "evaluation_status": _text(c, "evaluationStatus"),
        "uncertainty": _uncert(c, "genericAmplitude"),
        "lower_uncertainty": None,
        "upper_uncertainty": None,
        "confidence_level": None,
    }
    tw = _child(c, "timeWindow")
    if tw is not None:
        row["reference"] = _iso_to_ns(_text(tw, "reference"))
        row["time_begin"] = _float(tw, "begin")
        row["time_end"] = _float(tw, "end")
    row.update(_creation(c))
    row.update(_wf(c))
    return row


def _parse_station_magnitude(c) -> dict:
    row = {
        "resource_id": c.get("publicID"),
        "mag": _value(c, "mag", float),
        "station_magnitude_type": _value(c, "type"),
        "amplitude_id": _text(c, "amplitudeID"),
        "magnitude_id": None,  # linkage lives on the parent Magnitude
        "origin_id": _text(c, "originID"),
        "method_id": _text(c, "methodID"),
        "uncertainty": _uncert(c, "mag"),
        "lower_uncertainty": None,
        "upper_uncertainty": None,
        "confidence_level": None,
    }
    row.update(_creation(c))
    row.update(_wf(c))
    return row


def _parse_focal_mechanism(c) -> dict:
    row = {
        "resource_id": c.get("publicID"),
        "triggering_origin_id": _text(c, "triggeringOriginID"),
        "strike_1": None, "dip_1": None, "rake_1": None,
        "strike_2": None, "dip_2": None, "rake_2": None,
        "azimuthal_gap": _float(c, "azimuthalGap"),
        "station_polarity_count": _int(c, "stationPolarityCount"),
        "misfit": _float(c, "misfit"),
        "station_distribution_ratio": _float(c, "stationDistributionRatio"),
        "method_id": _text(c, "methodID"),
        "evaluation_mode": _text(c, "evaluationMode"),
        "evaluation_status": _text(c, "evaluationStatus"),
        "scalar_moment": None,
        "moment_magnitude_id": None,
    }
    np_el = _child(c, "nodalPlanes")
    if np_el is not None:
        for idx in (1, 2):
            plane = _child(np_el, f"nodalPlane{idx}")
            if plane is not None:
                row[f"strike_{idx}"] = _value(plane, "strike", float)
                row[f"dip_{idx}"] = _value(plane, "dip", float)
                row[f"rake_{idx}"] = _value(plane, "rake", float)
    mt = _child(c, "momentTensor")
    if mt is not None:
        row["scalar_moment"] = _value(mt, "scalarMoment", float)
        row["moment_magnitude_id"] = _text(mt, "momentMagnitudeID")
    row.update(_creation(c))
    return row


def parse_quakeml(content: bytes | str, path: str = "") -> list[dict]:
    """QuakeML document → nested event rows (NESTED_EVENT_SCHEMA dicts).

    Parses the full sub-entity set the engine carries: origins (with
    arrivals, quality, uncertainties), magnitudes, picks, amplitudes,
    station magnitudes and focal mechanisms (reference parity:
    ``events/schema.py:321-609``). Namespace-agnostic (tags matched by
    local name), tolerant: events missing optional sub-objects produce
    empty lists/None fields; unparseable documents produce []."""
    try:
        root = ET.fromstring(content)
    except ET.ParseError:
        return []
    rows = []
    for ev in root.iter():
        if _strip_ns(ev.tag) != "event":
            continue
        origins, mags, picks = [], [], []
        amps, smags, fms = [], [], []
        description = None
        event_type = None
        pref_o = pref_m = pref_fm = None
        ci = _creation(ev)
        version = None
        ci_el = _child(ev, "creationInfo")
        if ci_el is not None:
            version = _text(ci_el, "version")
        for c in ev:
            tag = _strip_ns(c.tag)
            if tag == "origin":
                origins.append(_parse_origin(c))
            elif tag == "magnitude":
                mags.append(_parse_magnitude(c))
            elif tag == "pick":
                picks.append(_parse_pick(c))
            elif tag == "amplitude":
                amps.append(_parse_amplitude(c))
            elif tag == "stationMagnitude":
                smags.append(_parse_station_magnitude(c))
            elif tag == "focalMechanism":
                fms.append(_parse_focal_mechanism(c))
            elif tag == "description":
                description = _value(c, "text") or (
                    _child(c, "text").text if _child(c, "text") is not None else None
                )
            elif tag == "type":
                event_type = (c.text or "").strip() or None
            elif tag == "preferredOriginID":
                pref_o = (c.text or "").strip() or None
            elif tag == "preferredMagnitudeID":
                pref_m = (c.text or "").strip() or None
            elif tag == "preferredFocalMechanismID":
                pref_fm = (c.text or "").strip() or None
        rows.append(
            {
                "event_id": ev.get("publicID") or f"{path}#{len(rows)}",
                "event_description": description,
                "event_type": event_type,
                "preferred_origin_id": pref_o,
                "preferred_magnitude_id": pref_m,
                "preferred_focal_mechanism_id": pref_fm,
                "creation_time": ci["creation_time"],
                "author": ci["author"],
                "agency_id": ci["agency_id"],
                "version": version,
                "origins": origins,
                "magnitudes": mags,
                "picks": picks,
                "amplitudes": amps,
                "station_magnitudes": smags,
                "focal_mechanisms": fms,
            }
        )
    return rows


def _aslist(v) -> list:
    """None/numpy-array/list → list (Arrow hands arrays as ndarray)."""
    if v is None:
        return []
    try:
        import math

        if isinstance(v, float) and math.isnan(v):
            return []
    except TypeError:
        pass
    return list(v)


def _notnan(v):
    """pandas nulls numeric fields to NaN — treat as absent."""
    if v is None:
        return None
    if isinstance(v, float) and v != v:
        return None
    return v


def _emit_creation(parent, obj: dict, version: str | None = None) -> None:
    ct = _notnan(obj.get("creation_time"))
    author = obj.get("author")
    agency = obj.get("agency_id")
    if ct is None and not author and not agency and not version:
        return
    ci = ET.SubElement(parent, "creationInfo")
    if agency:
        ET.SubElement(ci, "agencyID").text = agency
    if author:
        ET.SubElement(ci, "author").text = author
    if ct is not None:
        ET.SubElement(ci, "creationTime").text = _ns_to_iso(int(ct))
    if version:
        ET.SubElement(ci, "version").text = version


def _emit_wf(parent, obj: dict) -> None:
    wf_attrs = {
        k: obj.get(f)
        for k, f in (
            ("networkCode", "network"), ("stationCode", "station"),
            ("locationCode", "location"), ("channelCode", "channel"),
        )
        if obj.get(f) is not None
    }
    if wf_attrs:
        ET.SubElement(parent, "waveformID", **wf_attrs)


def _emit_real(parent, tag: str, value, uncertainty=None, is_time=False) -> None:
    """RealQuantity/TimeQuantity element: <tag><value>…</value>
    [<uncertainty>…</uncertainty>]</tag>."""
    value = _notnan(value)
    uncertainty = _notnan(uncertainty)
    if value is None and uncertainty is None:
        return
    q = ET.SubElement(parent, tag)
    if value is not None:
        ET.SubElement(q, "value").text = (
            _ns_to_iso(int(value)) if is_time else repr(float(value))
        )
    if uncertainty is not None:
        ET.SubElement(q, "uncertainty").text = repr(float(uncertainty))


def _emit_text(parent, tag: str, value) -> None:
    if value:
        ET.SubElement(parent, tag).text = str(value)


def _emit_float(parent, tag: str, value) -> None:
    value = _notnan(value)
    if value is not None:
        ET.SubElement(parent, tag).text = repr(float(value))


def _emit_int(parent, tag: str, value) -> None:
    value = _notnan(value)
    if value is not None:
        ET.SubElement(parent, tag).text = str(int(value))


def event_to_quakeml(row: dict) -> str:
    """One nested event row → a QuakeML <event> element string (the
    engine-carried subset; inverse of :func:`parse_quakeml`)."""
    ev = ET.Element("event", publicID=row["event_id"] or "")
    if row.get("event_description"):
        d = ET.SubElement(ev, "description")
        ET.SubElement(d, "text").text = row["event_description"]
    _emit_text(ev, "type", row.get("event_type"))
    for name, tag in (
        ("preferred_origin_id", "preferredOriginID"),
        ("preferred_magnitude_id", "preferredMagnitudeID"),
        ("preferred_focal_mechanism_id", "preferredFocalMechanismID"),
    ):
        if row.get(name):
            ET.SubElement(ev, tag).text = row[name]
    _emit_creation(ev, row, version=row.get("version"))
    for o in _aslist(row.get("origins")):
        oe = ET.SubElement(ev, "origin", publicID=o.get("resource_id") or "")
        _emit_real(oe, "time", o.get("time"), is_time=True)
        _emit_real(oe, "latitude", o.get("latitude"))
        _emit_real(oe, "longitude", o.get("longitude"))
        _emit_real(oe, "depth", o.get("depth"), o.get("vertical_uncertainty"))
        q = o.get("quality")
        if q is not None and any(_notnan(v) is not None for v in dict(q).values()):
            qe = ET.SubElement(oe, "quality")
            _emit_int(qe, "associatedPhaseCount", q.get("associated_phase_count"))
            _emit_int(qe, "usedPhaseCount", q.get("used_phase_count"))
            _emit_float(qe, "standardError", q.get("standard_error"))
            _emit_float(qe, "azimuthalGap", q.get("azimuthal_gap"))
        if _notnan(o.get("horizontal_uncertainty")) is not None:
            ou = ET.SubElement(oe, "originUncertainty")
            _emit_float(ou, "horizontalUncertainty", o["horizontal_uncertainty"])
        for a in _aslist(o.get("arrivals")):
            ae = ET.SubElement(oe, "arrival", publicID=a.get("resource_id") or "")
            _emit_text(ae, "pickID", a.get("pick_id"))
            _emit_text(ae, "phase", a.get("phase"))
            _emit_float(ae, "timeCorrection", a.get("time_correction"))
            _emit_float(ae, "azimuth", a.get("azimuth"))
            _emit_float(ae, "distance", a.get("distance"))
            _emit_real(ae, "takeoffAngle", a.get("takeoff_angle"))
            _emit_float(ae, "timeResidual", a.get("time_residual"))
            _emit_float(
                ae, "horizontalSlownessResidual",
                a.get("horizontal_slowness_residual"),
            )
            _emit_float(ae, "backazimuthResidual", a.get("backazimuth_residual"))
            _emit_float(ae, "timeWeight", a.get("time_weight"))
            _emit_float(
                ae, "horizontalSlownessWeight", a.get("horizontal_slowness_weight")
            )
            _emit_float(ae, "backazimuthWeight", a.get("backazimuth_weight"))
            _emit_text(ae, "earthModelID", a.get("earth_model_id"))
            _emit_wf(ae, a)
            _emit_creation(ae, a)
        _emit_creation(oe, o)
    for m in _aslist(row.get("magnitudes")):
        me = ET.SubElement(ev, "magnitude", publicID=m.get("resource_id") or "")
        _emit_real(me, "mag", m.get("mag"), m.get("uncertainty"))
        _emit_text(me, "type", m.get("magnitude_type"))
        _emit_text(me, "originID", m.get("origin_id"))
        _emit_text(me, "methodID", m.get("method_id"))
        _emit_float(me, "stationCount", m.get("station_count"))
        _emit_float(me, "azimuthalGap", m.get("azimuthal_gap"))
        _emit_text(me, "evaluationMode", m.get("evaluation_mode"))
        _emit_text(me, "evaluationStatus", m.get("evaluation_status"))
        _emit_creation(me, m)
    for p in _aslist(row.get("picks")):
        pe = ET.SubElement(ev, "pick", publicID=p.get("resource_id") or "")
        _emit_real(pe, "time", p.get("time"), p.get("uncertainty"), is_time=True)
        _emit_wf(pe, p)
        _emit_real(pe, "horizontalSlowness", p.get("horizontal_slowness"))
        _emit_real(pe, "backazimuth", p.get("backazimuth"))
        _emit_text(pe, "filterID", p.get("filter_id"))
        _emit_text(pe, "methodID", p.get("method_id"))
        _emit_text(pe, "onset", p.get("onset"))
        _emit_text(pe, "phaseHint", p.get("phase_hint"))
        _emit_text(pe, "polarity", p.get("polarity"))
        _emit_text(pe, "evaluationMode", p.get("evaluation_mode"))
        _emit_text(pe, "evaluationStatus", p.get("evaluation_status"))
        _emit_creation(pe, p)
    for a in _aslist(row.get("amplitudes")):
        ae = ET.SubElement(ev, "amplitude", publicID=a.get("resource_id") or "")
        _emit_real(
            ae, "genericAmplitude", a.get("generic_amplitude"), a.get("uncertainty")
        )
        _emit_text(ae, "type", a.get("type"))
        _emit_text(ae, "category", a.get("category"))
        _emit_text(ae, "unit", a.get("unit"))
        _emit_text(ae, "methodID", a.get("method_id"))
        _emit_real(ae, "period", a.get("period"))
        _emit_float(ae, "snr", a.get("snr"))
        tw_ref, tw_b, tw_e = (
            _notnan(a.get("reference")),
            _notnan(a.get("time_begin")),
            _notnan(a.get("time_end")),
        )
        if tw_ref is not None or tw_b is not None or tw_e is not None:
            tw = ET.SubElement(ae, "timeWindow")
            _emit_float(tw, "begin", tw_b)
            _emit_float(tw, "end", tw_e)
            if tw_ref is not None:
                ET.SubElement(tw, "reference").text = _ns_to_iso(int(tw_ref))
        _emit_text(ae, "pickID", a.get("pick_id"))
        _emit_real(ae, "scalingTime", a.get("scaling_time"), is_time=True)
        _emit_text(ae, "magnitudeHint", a.get("magnitude_hint"))
        _emit_text(ae, "evaluationMode", a.get("evaluation_mode"))
        _emit_text(ae, "evaluationStatus", a.get("evaluation_status"))
        _emit_text(ae, "filterID", a.get("filter_id"))
        _emit_wf(ae, a)
        _emit_creation(ae, a)
    for sm in _aslist(row.get("station_magnitudes")):
        se = ET.SubElement(ev, "stationMagnitude", publicID=sm.get("resource_id") or "")
        _emit_text(se, "originID", sm.get("origin_id"))
        _emit_real(se, "mag", sm.get("mag"), sm.get("uncertainty"))
        _emit_text(se, "type", sm.get("station_magnitude_type"))
        _emit_text(se, "amplitudeID", sm.get("amplitude_id"))
        _emit_text(se, "methodID", sm.get("method_id"))
        _emit_wf(se, sm)
        _emit_creation(se, sm)
    for fm in _aslist(row.get("focal_mechanisms")):
        fe = ET.SubElement(ev, "focalMechanism", publicID=fm.get("resource_id") or "")
        _emit_text(fe, "triggeringOriginID", fm.get("triggering_origin_id"))
        planes = [
            (
                _notnan(fm.get(f"strike_{i}")),
                _notnan(fm.get(f"dip_{i}")),
                _notnan(fm.get(f"rake_{i}")),
            )
            for i in (1, 2)
        ]
        if any(v is not None for plane in planes for v in plane):
            np_el = ET.SubElement(fe, "nodalPlanes")
            for i, (strike, dip, rake) in enumerate(planes, start=1):
                if strike is None and dip is None and rake is None:
                    continue
                plane = ET.SubElement(np_el, f"nodalPlane{i}")
                _emit_real(plane, "strike", strike)
                _emit_real(plane, "dip", dip)
                _emit_real(plane, "rake", rake)
        _emit_float(fe, "azimuthalGap", fm.get("azimuthal_gap"))
        _emit_int(fe, "stationPolarityCount", fm.get("station_polarity_count"))
        _emit_float(fe, "misfit", fm.get("misfit"))
        _emit_float(
            fe, "stationDistributionRatio", fm.get("station_distribution_ratio")
        )
        _emit_text(fe, "methodID", fm.get("method_id"))
        _emit_text(fe, "evaluationMode", fm.get("evaluation_mode"))
        _emit_text(fe, "evaluationStatus", fm.get("evaluation_status"))
        sm_val = _notnan(fm.get("scalar_moment"))
        mm_id = fm.get("moment_magnitude_id")
        if sm_val is not None or mm_id:
            mt = ET.SubElement(fe, "momentTensor")
            _emit_text(mt, "momentMagnitudeID", mm_id)
            _emit_real(mt, "scalarMoment", sm_val)
        _emit_creation(fe, fm)
    return ET.tostring(ev, encoding="unicode")


def quakeml_to_tree(files: DataFrame) -> DataFrame:
    """binaryFile rows → nested event rows, Arrow-batched on executors.

    parse_quakeml emits every NESTED_EVENT_SCHEMA key (list-typed columns
    are real lists, never NaN) so the pandas→Arrow conversion is exact."""
    import pandas as pd

    from obsplus_spark.operators.event_tree import NESTED_EVENT_SCHEMA

    cols = [f.name for f in NESTED_EVENT_SCHEMA.fields]

    def _batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in it:
            out = []
            for path, content in zip(pdf["path"], pdf["content"]):
                try:
                    out.extend(parse_quakeml(bytes(content), path))
                except Exception as exc:  # unreadable file → skipped, not fatal
                    _log.warning("skipping unreadable file %s: %r", path, exc)
                    continue
            yield pd.DataFrame(out, columns=cols)

    return files.select("path", "content").mapInPandas(
        _batches, NESTED_EVENT_SCHEMA
    )


def tree_to_quakeml(tree: DataFrame) -> DataFrame:
    """Nested event rows → (event_id, quakeml) strings — per-row
    serializer, runs batched on executors (export is not a hot path)."""
    import pandas as pd

    def _batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in it:
            recs = pdf.to_dict("records")
            yield pd.DataFrame(
                {
                    "event_id": [r["event_id"] for r in recs],
                    "quakeml": [event_to_quakeml(r) for r in recs],
                }
            )

    return tree.mapInPandas(_batches, "event_id string, quakeml string")


def update_eventbank_from_files(
    spark,
    bank,
    path: str,
    glob: str = "*.xml",
    incremental: bool = True,
) -> None:
    """EventBank ingest from a QuakeML directory end-to-end (reference
    ``bank/eventbank.py:267-327 update_index``): discover (new) files by
    mtime, parse distributed, upsert payload trees + derived index."""
    from obsplus_spark.sources.summarize import ingest_files

    ingest_files(spark, bank, path, glob, incremental, quakeml_to_tree)


# --- StationXML -----------------------------------------------------------


def parse_stationxml(content: bytes | str, path: str = "") -> list[dict]:
    """StationXML → channel-level station index rows (the flat NSLC form
    consumed by operators/stations.py; reference ``utils/stations``)."""
    try:
        root = ET.fromstring(content)
    except ET.ParseError:
        return []
    rows = []
    for net in root.iter():
        if _strip_ns(net.tag) != "Network":
            continue
        net_code = net.get("code") or ""
        for sta in net:
            if _strip_ns(sta.tag) != "Station":
                continue
            sta_code = sta.get("code") or ""
            for cha in sta:
                if _strip_ns(cha.tag) != "Channel":
                    continue

                def _f(name, el=cha):
                    c = _child(el, name)
                    try:
                        return float(c.text) if c is not None and c.text else None
                    except ValueError:
                        return None

                sr = _child(cha, "SampleRate")
                rows.append(
                    {
                        "network": net_code,
                        "station": sta_code,
                        "location": cha.get("locationCode") or "",
                        "channel": cha.get("code") or "",
                        "latitude": _f("Latitude"),
                        "longitude": _f("Longitude"),
                        "elevation": _f("Elevation"),
                        "depth": _f("Depth"),
                        "sample_rate": (
                            float(sr.text) if sr is not None and sr.text else None
                        ),
                        "start_date": _iso_to_ns(cha.get("startDate")),
                        "end_date": _iso_to_ns(cha.get("endDate")),
                    }
                )
    return rows


STATION_XML_SCHEMA = (
    "network string, station string, location string, channel string, "
    "latitude double, longitude double, elevation double, depth double, "
    "sample_rate double, start_date long, end_date long"
)


def stationxml_to_df(files: DataFrame) -> DataFrame:
    """binaryFile rows → flat channel index rows."""
    import pandas as pd

    cols = [c.split()[0] for c in STATION_XML_SCHEMA.split(", ")]

    def _batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in it:
            out = []
            for path, content in zip(pdf["path"], pdf["content"]):
                try:
                    out.extend(parse_stationxml(bytes(content), path))
                except Exception as exc:  # unreadable file → skipped, not fatal
                    _log.warning("skipping unreadable file %s: %r", path, exc)
                    continue
            yield pd.DataFrame(out, columns=cols)

    return files.select("path", "content").mapInPandas(
        _batches, STATION_XML_SCHEMA
    )
