"""Host-derived session defaults and the slow-test list check."""

from types import SimpleNamespace

from conftest import missing_slow_tests

from database_anonymiser_spark import session as S


def test_local_cpus_default_to_the_host(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.setattr(S.os, "cpu_count", lambda: 6)
    assert S.local_cpus() == "6"
    monkeypatch.setattr(S.os, "cpu_count", lambda: None)
    assert S.local_cpus() == "1"
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert S.local_cpus() == "3"


def test_driver_memory_is_capped_by_host_memory(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    gib = 1 << 30
    assert S.driver_memory(15 * gib) == "9216m"      # 60 % of 15 GiB
    assert S.driver_memory(64 * gib) == "16384m"     # the 16g ceiling
    monkeypatch.setattr(S, "physical_memory_bytes", lambda: None)
    assert S.driver_memory() == "16384m"             # unknown host: 16g
    monkeypatch.setattr(S, "physical_memory_bytes", lambda: 10 * gib)
    assert S.driver_memory() == "6144m"
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert S.driver_memory(64 * gib) == "3g"


def test_missing_slow_tests_names_stale_ids(tmp_path):
    (tmp_path / "tests").mkdir()
    (tmp_path / "tests" / "test_a.py").write_text("")
    module = SimpleNamespace(test_kept=lambda: None)
    slow = {
        "tests/test_a.py::test_kept",
        "tests/test_a.py::test_renamed",
        "tests/test_gone.py::test_x",
    }
    assert missing_slow_tests(slow, {"tests/test_a.py": module}, tmp_path) == [
        "tests/test_a.py::test_renamed", "tests/test_gone.py::test_x"]
    # a file this run did not collect is only checked for existence
    assert missing_slow_tests(slow, {}, tmp_path) == ["tests/test_gone.py::test_x"]
