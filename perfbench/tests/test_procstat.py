"""The process tree leaves out a child the JVM has vforked and that has
not exec'd yet, so summed RSS does not count the JVM twice."""

from perfbench import procstat


def test_tree_skips_a_jvm_child_that_has_not_execd(monkeypatch):
    stats = {
        1: ("python3", 0, 1.0, 100, "python"),
        2: ("java", 1, 5.0, 1500, "java"),
        3: ("Executor task l", 2, 0.0, 1500, "java"),  # vforked by the JVM
        4: ("python3", 2, 0.5, 150, "python"),  # Python daemon started by the JVM
        5: ("python3", 4, 0.5, 150, "python"),  # worker forked by the daemon
        9: ("other", 0, 7.0, 999, "other"),  # not a descendant
    }
    monkeypatch.setattr(procstat.os, "getpid", lambda: 1)
    monkeypatch.setattr(procstat.os, "listdir", lambda _: [str(p) for p in stats])
    monkeypatch.setattr(procstat, "_stat", stats.get)
    t = procstat.tree()
    assert sorted(t) == [1, 2, 4, 5]
    assert sum(st[3] for st in t.values()) == 1900
    assert procstat.tree_cpu_s() == 7.0
