"""Input adapters: seed the reference's message envelope onto DataFrames."""

from logagent_spark.sources.readers import (  # noqa: F401
    degradation_sample,
    from_pages,
    read_text_lines,
    read_whole_files,
    syslog_decode,
)
