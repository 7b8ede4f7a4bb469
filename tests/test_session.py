"""Host-sized session defaults."""

import pytest

from warc2text_spark.session import default_driver_memory


@pytest.mark.parametrize("meminfo, heap", [
    ("MemTotal:       15728640 kB\nMemFree:         1024 kB\n", "7680m"),
    ("MemTotal:       263840000 kB\n", "32768m"),  # capped at 32g
    ("", "32768m"),                                # no MemTotal line
])
def test_default_driver_memory(meminfo, heap):
    assert default_driver_memory(meminfo) == heap
