import multiprocessing

from perfbench import calibrate


def test_calibration_reads_positive_and_leaves_no_workers():
    assert calibrate.measure() > 0
    # fork-pool workers are joined before measure returns
    assert not multiprocessing.active_children()
