"""enDAQ/SlamStick ``.ide`` ingest (reference ``Endaq``/``EndaqChannel``,
``io.py:161-301``).

A file whose EBML DocType is ``mide`` (the recorder profile) is read by
the built-in parser (``sources/mide.py``); any other file needs the
optional ``endaq`` package, so that path is import-gated: without the
package it raises an ImportError naming the DocType it found.
Everything downstream of the raw read reuses the generic
:class:`~pandas_sigproc_spark.sources.channel.Channel` ingest.

Design (SURVEY.md §2.1 Endaq row): ``.ide`` is a single-file EBML log —
not splittable — so ingest parallelism is per *file*.  A directory of
logs goes through the ``spark.read.format("ide")`` data source
(``sources/ide_datasource.py``, one input partition per file), and is
written once to canonical parquet::

    spark.read.format("ide").load(d).write.partitionBy("channel_id").parquet(out)

Analytics then run on that parquet, never re-touching the raw format.
"""

from __future__ import annotations

from pandas_sigproc_spark.sources.channel import Channel, channels_to_signals

try:  # pragma: no cover - exercised only where endaq is installed
    import endaq.ide as _endaq_ide
except Exception:  # ImportError or transitive dep failures
    _endaq_ide = None


def _builtin_channels(filename: str):
    """Channels of a MIDE-profile file, read by ``sources/mide.py``.

    Returns None for any other file when the ``endaq`` package is
    installed (then it reads the file); without the package, raises an
    ImportError that names the DocType found."""
    from pandas_sigproc_spark.sources import mide

    try:
        with open(filename, "rb") as fh:
            buf = fh.read()
    except OSError:
        # the probe could not even open the file — defer to the endaq
        # package path ONLY when that path exists (it reports its own
        # error for package-specific virtual-filesystem handles);
        # without the package the fallthrough would turn a plain
        # FileNotFoundError/PermissionError into a misleading
        # 'install endaq' ImportError
        if _endaq_ide is not None:
            return None
        raise
    if mide.is_mide(buf):
        return mide.read_mide_channels(buf, source=filename)
    if _endaq_ide is not None:
        return None
    doctype = mide.doctype(buf)
    found = (
        "no EBML header" if doctype is None
        else f"EBML DocType {doctype.decode(errors='replace')!r}"
    )
    raise ImportError(
        f"{filename}: {found}; the built-in parser reads DocType 'mide'"
        " only, any other .ide needs the 'endaq' package (pip install"
        " endaq)"
    )


def _subchannels(doc):
    """Flat (displayName, subchannel) pairs — the reference's enumeration
    order (``daq/io.py:176-184``: outer channels dict, inner subchannels)."""
    for ch in doc.channels.values():
        for sub in ch.subchannels:
            yield sub.displayName, sub


def ide_channel_list(filename: str) -> list[str]:
    """Display names in one ``.ide`` file (reference ``Endaq.channel_list``,
    ``daq/io.py:175-184``)."""
    # profile-first dispatch: a MIDE file is read by the built-in
    # parser even when the endaq package is installed
    chans = _builtin_channels(filename)
    if chans is not None:
        return [c.name for c in chans]
    doc = _endaq_ide.get_doc(filename=filename)
    try:
        return [name for name, _ in _subchannels(doc)]
    finally:
        doc.close()


def _sub_to_channel(filename: str, sub) -> Channel:
    """One subchannel -> Channel, mirroring ``EndaqChannel``'s properties
    (``daq/io.py:241-301``): seconds time base, data vector, displayName,
    units[1], and start_time = min of the UTC datetime index (naive) —
    two reads per subchannel instead of the reference's one per property.
    """
    pdf = _endaq_ide.to_pandas(sub, time_mode="seconds")
    dt_idx = _endaq_ide.to_pandas(sub, time_mode="datetime", tz="utc").index
    start = dt_idx.min()
    if getattr(start, "tzinfo", None) is not None:
        start = start.replace(tzinfo=None)
    return Channel(
        channel_id=f"{filename}:{sub.displayName}",
        time=pdf.index.to_numpy(dtype="float64"),
        # reshape(-1), NOT squeeze(): a single-sample subchannel's
        # (1, 1) frame squeezes to a 0-D array, crashing len()/Arrow
        # downstream (a review finding)
        data=pdf.to_numpy(dtype="float64").reshape(-1),
        name=sub.displayName,
        unit=str(sub.units[1]) if sub.units else "none",
        start_time=start,
    )


def read_ide_channel(filename: str, ch_name: str) -> Channel:
    """Name lookup (reference ``Endaq.get_channel``, ``daq/io.py:211-239``):
    raises KeyError when the display name is absent."""
    chans = _builtin_channels(filename)  # profile-first (see above)
    if chans is not None:
        for c in chans:
            if c.name == ch_name:
                return c
        raise KeyError(f"channel {ch_name!r} not in {filename}")
    doc = _endaq_ide.get_doc(filename=filename)
    try:
        for name, sub in _subchannels(doc):
            if name == ch_name:
                return _sub_to_channel(filename, sub)
    finally:
        doc.close()
    raise KeyError(f"channel {ch_name!r} not in {filename}")


def read_ide_channels(filename: str) -> list[Channel]:
    """Open one ``.ide`` file -> in-memory Channels (every subchannel)."""
    chans = _builtin_channels(filename)  # profile-first (see above)
    if chans is not None:
        return chans
    doc = _endaq_ide.get_doc(filename=filename)
    try:
        return [_sub_to_channel(filename, sub) for _, sub in _subchannels(doc)]
    finally:
        doc.close()


def ingest_ide(spark, filename: str):
    """One ``.ide`` file -> (signals_df, channels_df)."""
    return channels_to_signals(spark, read_ide_channels(filename))
