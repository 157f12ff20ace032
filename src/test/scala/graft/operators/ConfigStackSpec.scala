package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.ArrayType
import graft.SparkSpec
import graft.model.Schemas

/** Golden tests for the config-stack traversals, hand-traced through
  * the reference loops (`process_segment_pb`, `process_nonsegment_pb`,
  * `process_fw`, `update_segment_firewall`, the b2b scan) on fixtures
  * covering BOTH schema versions — the FIXTURES.md §3 variant matrix.
  */
class ConfigStackSpec extends SparkSpec {

  private def rule(policy: String, cfgType: String = null) = {
    val cfg = if (cfgType == null) "{}" else s"""{"type":"$cfgType"}"""
    s"""{"action":{"routeType":"edge2Cloud","edge2CloudRouteAction":{"routePolicy":"$policy","routeCfg":$cfg}}}"""
  }

  private val seg3x =
    s"""{"edgeId":"e-1","stack":[
       |{"name":"Edge Specific Profile","schemaVersion":"3.4.0","modules":[
       |  {"name":"QOS","data":{"segments":[
       |    {"rules":[${rule("gateway")},${rule("other", "dataCenter")}]},
       |    {"rules":[${rule("direct")}]}]}},
       |  {"name":"firewall","data":{"firewall_enabled":true,
       |    "inbound":[{"name":"i1"},{"name":"i2"}],
       |    "segments":[{"outbound":[{"name":"o1"}]},{"outbound":[]}]}},
       |  {"name":"controlPlane","data":{"segments":[
       |    {"vpn":{"enabled":true,"edgeToEdge":true,
       |            "edgeToEdgeDetail":{"useCloudGateway":false}}}]}}]},
       |{"name":"ProfileX","schemaVersion":"3.4.0","modules":[
       |  {"name":"QOS","data":{"segments":[{"rules":[${rule("other", "cloudSecurityService")}]}]}},
       |  {"name":"firewall","data":{"stateful_firewall_enabled":true,"inbound":[]}}]}
       |]}""".stripMargin.replaceAll("\n", "")

  private val nonseg2x =
    s"""{"edgeId":"e-2","stack":[
       |{"name":"Edge Specific Profile","schemaVersion":"2.0.0","modules":[
       |  {"name":"QOS","data":{"rules":[${rule("direct")}]}},
       |  {"name":"controlPlane","data":{"vpn":{"edgeToEdge":true,
       |    "edgeToEdgeDetail":{"useCloudGateway":true}}}}]},
       |{"name":"Prof","schemaVersion":"2.0.0","modules":[
       |  {"name":"QOS","data":{"rules":[${rule("other", "cloudSecurityService")}]}}]}
       |]}""".stripMargin.replaceAll("\n", "")

  private def docs = {
    import spark.implicits._
    spark.read.schema(Schemas.configStackDoc).json(Seq(seg3x, nonseg2x).toDS())
  }

  test("isSegmented branches on stack[0].schemaVersion") {
    val got = docs.select(col("edgeId"),
        ConfigStack.isSegmented(col("stack")).as("seg"))
      .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    assert(got === Map("e-1" -> true, "e-2" -> false))
  }

  test("3.x pb flags: segment-0-only rules, elif order, edge level wins") {
    val f = docs.filter(col("edgeId") === "e-1")
      .select(ConfigStack.pbFlagsWithFallback(col("stack"), lit(true))
        .as("f"))
      .select("f.*").collect().head
    // gateway rule → pb_via_gw; 'other'+dataCenter → nvs (elif reaches
    // routeCfg only past gateway/direct); segment 1's direct rule is
    // ignored (segment 0 only); profile css never consulted (edge has
    // pb_via_gw).
    assert((f.getBoolean(0), f.getBoolean(1), f.getBoolean(2),
      f.getBoolean(3), f.getBoolean(4)) === ((true, false, false, false, true)))
  }

  test("2.x pb flags: value-based fallback replaces ALL five flags") {
    val f = docs.filter(col("edgeId") === "e-2")
      .select(ConfigStack.pbFlagsWithFallback(col("stack"), lit(false))
        .as("f"))
      .select("f.*").collect().head
    // Edge level has only pb_internet_via_direct=true — but the
    // fallback triggers on pb/css/nvs all-false and replaces the WHOLE
    // tuple with profile level (css only): direct is discarded, as in
    // the reference.
    assert((f.getBoolean(0), f.getBoolean(1), f.getBoolean(2),
      f.getBoolean(3), f.getBoolean(4)) === ((false, false, false, true, false)))
  }

  test("segment firewall attrs: null-coalesced levels, OR'd bools, summed counts") {
    val f = docs.filter(col("edgeId") === "e-1")
      .select(ConfigStack.segmentFirewallAttrs(col("stack")).as("f"))
      .select("f.*").collect().head
    assert(f.getBoolean(0) === true)   // enabled: edge level
    assert(f.getBoolean(1) === true)   // in_bool: edge inbound x2
    assert(f.getBoolean(2) === true)   // out_bool: edge segment outbound
    assert(f.getInt(3) === 3)          // 1 outbound + 2 inbound + 0 profile
    assert(f.getBoolean(4) === true)   // stateful: PROFILE level fallback
  }

  test("featureSetFromStack: version branch + elif chain end-to-end") {
    val got = docs.select(col("edgeId"),
        ConfigStack.featureSetFromStack(col("stack")).as("f"))
      .select(col("edgeId"), col("f.b2b_via_hub"), col("f.pb_via_gw"),
        col("f.css_via_gw"), col("f.feature_set"))
      .collect().map(r => r.getString(0) ->
        ((r.getBoolean(1), r.getBoolean(2), r.getBoolean(3), r.getString(4)))).toMap
    // e-1 (3.x): b2b via hub (not gw) + pb_via_gw true → Premium
    assert(got("e-1") === ((true, true, false, "Premium Subscription")))
    // e-2 (2.0.0): b2b via GW → Premium even though pb fell back to css
    assert(got("e-2")._4 === "Premium Subscription")
    assert(got("e-2")._3 === true) // css from the profile-level fallback
  }

  test("b2b flags: 3.x segments[0].vpn vs 2.x flat vpn, gw/hub split") {
    val got = docs.select(col("edgeId"),
        ConfigStack.b2bFlags(col("stack"), lit(true)).as("s3"),
        ConfigStack.b2bFlags(col("stack"), lit(false)).as("s2"))
      .collect().map(r => r.getString(0) ->
        ((r.getStruct(1).getBoolean(0), r.getStruct(1).getBoolean(1),
          r.getStruct(2).getBoolean(0), r.getStruct(2).getBoolean(1)))).toMap
    // e-1 (3.x form): enabled && edgeToEdge, useCloudGateway=false → hub
    assert((got("e-1")._1, got("e-1")._2) === ((false, true)))
    // e-2 (2.x form): edgeToEdge && useCloudGateway=true → gw
    assert((got("e-2")._3, got("e-2")._4) === ((true, false)))
  }

  // ------------------------------------------------- plan size guard

  test("featureSetFromStack builds each subterm once (< 5,000 analysed nodes)") {
    val n = SparkSpec.analyzedExprNodes(
      docs.select(ConfigStack.featureSetFromStack(col("stack"))))
    // two whole version branches read field by field analysed to 21,987
    assert(n < 5000, s"featureSetFromStack analysed to $n expression nodes")
  }

  // ------------------------------------------- variant-grid parity

  /** The builders as they were before the version branch moved to the
    * leaves, kept verbatim as the parity reference: both version
    * branches built whole and every field read off a copied struct.
    */
  private object Reference {
    def pbFlags(stack: Column, levelIdx: Int, segmented: Boolean): Column = {
      val qos = Nested.moduleByName(
        ConfigStack.level(stack, levelIdx).getField("modules"), "name", "QOS")
      val rules =
        if (segmented)
          get(qos.getField("data").getField("segments"), lit(0)).getField("rules")
        else qos.getField("data").getField("rules")
      val safe = coalesce(rules, array().cast(ArrayType(Schemas.qosRule)))
      struct(
        Nested.existsAny(safe, ConfigStack.ruleFlag(_, "gw")).as("pb_via_gw"),
        Nested.existsAny(safe, ConfigStack.ruleFlag(_, "direct")).as("pb_internet_via_direct"),
        Nested.existsAny(safe, ConfigStack.ruleFlag(_, "hub")).as("pb_internet_via_hub"),
        Nested.existsAny(safe, ConfigStack.ruleFlag(_, "css")).as("css_via_gw"),
        Nested.existsAny(safe, ConfigStack.ruleFlag(_, "nvs")).as("nvs_via_gw"))
    }

    def pbFlagsWithFallback(stack: Column, segmented: Boolean): Column = {
      val e = pbFlags(stack, 0, segmented)
      val p = pbFlags(stack, 1, segmented)
      val useProfile = !e.getField("pb_via_gw") && !e.getField("css_via_gw") &&
        !e.getField("nvs_via_gw")
      when(useProfile, p).otherwise(e)
    }

    def b2bFlags(stack: Column, segmented: Boolean): Column = {
      val edgeSpecific = get(filter(stack,
        l => l.getField("name") === "Edge Specific Profile"), lit(0))
      val cp = Nested.moduleByName(edgeSpecific.getField("modules"), "name",
        "controlPlane").getField("data")
      val vpn =
        if (segmented) get(cp.getField("segments"), lit(0)).getField("vpn")
        else cp.getField("vpn")
      val active =
        if (segmented)
          coalesce(vpn.getField("enabled"), lit(false)) &&
            coalesce(vpn.getField("edgeToEdge"), lit(false))
        else coalesce(vpn.getField("edgeToEdge"), lit(false))
      val useGw = coalesce(
        vpn.getField("edgeToEdgeDetail").getField("useCloudGateway"), lit(false))
      struct(
        (active && useGw).as("b2b_via_gw"),
        (active && !useGw).as("b2b_via_hub"))
    }

    def featureSetFromStack(stack: Column): Column = {
      def branch(segmented: Boolean) = {
        val b2b = b2bFlags(stack, segmented)
        val pb = pbFlagsWithFallback(stack, segmented)
        struct(
          b2b.getField("b2b_via_gw").as("b2b_via_gw"),
          b2b.getField("b2b_via_hub").as("b2b_via_hub"),
          pb.getField("pb_via_gw").as("pb_via_gw"),
          pb.getField("pb_internet_via_direct").as("pb_internet_via_direct"),
          pb.getField("pb_internet_via_hub").as("pb_internet_via_hub"),
          pb.getField("css_via_gw").as("css_via_gw"),
          pb.getField("nvs_via_gw").as("nvs_via_gw"),
          License.featureSet(
            b2b.getField("b2b_via_gw"), pb.getField("pb_via_gw"),
            pb.getField("css_via_gw"), pb.getField("nvs_via_gw"))
            .as("feature_set"))
      }
      when(ConfigStack.isSegmented(stack), branch(segmented = true))
        .otherwise(branch(segmented = false))
    }
  }

  private def js(v: String) = if (v == null) "null" else s""""$v""""

  /** Rule actions: every policy × routeCfg type of the elif chain,
    * plus null and partial actions and non-edge2Cloud route types.
    */
  private val actions: Seq[String] = Seq("null", "{}",
    """{"routeType":"edge2Cloud"}""",
    """{"routeType":null,"edge2CloudRouteAction":{"routePolicy":"gateway"}}""",
    """{"routeType":"internet","edge2CloudRouteAction":{"routePolicy":"direct"}}""",
    """{"routeType":"edge2Cloud","edge2CloudRouteAction":{"routePolicy":null,"routeCfg":null}}""") ++
    (for (pol <- Seq("gateway", "direct", "backhaul", null);
          cfg <- Seq("edge", "cloudSecurityService", "dataCenter", null))
      yield s"""{"routeType":"edge2Cloud","edge2CloudRouteAction":""" +
        s"""{"routePolicy":${js(pol)},"routeCfg":{"type":${js(cfg)}}}}""")

  private def vpn(r: scala.util.Random): String = {
    def b = Seq("true", "false", "null")(r.nextInt(3))
    Seq("null", "{}",
      s"""{"enabled":$b,"edgeToEdge":$b,"edgeToEdgeDetail":{"useCloudGateway":$b}}""",
      s"""{"enabled":$b,"edgeToEdge":$b,"edgeToEdgeDetail":null}""")(r.nextInt(4))
  }

  /** One stack level: every module optional, each rules/segments/vpn
    * array null, empty or filled, flat and segmented forms mixed
    * freely (the version of level 0 decides which one is read).
    */
  private def gridLevel(r: scala.util.Random, name: String): String = {
    def rules: String = r.nextInt(5) match {
      case 0 => "null"
      case 1 => "[]"
      case 2 => "[null]"
      case _ => Seq.fill(1 + r.nextInt(3))(
        s"""{"name":"r","action":${actions(r.nextInt(actions.size))}}""")
        .mkString("[", ",", "]")
    }
    def segments(body: => String): String = r.nextInt(4) match {
      case 0 => "null"
      case 1 => "[]"
      case _ => Seq.fill(1 + r.nextInt(2))(body).mkString("[", ",", "]")
    }
    def opt(p: Boolean, field: String) = if (p) Seq(field) else Nil
    def named = Seq.fill(r.nextInt(3))("""{"name":"x"}""").mkString("[", ",", "]")
    val qos = opt(r.nextBoolean(), "\"rules\":" + rules) ++
      opt(r.nextBoolean(), "\"segments\":" + segments(
        s"""{"rules":$rules,"outbound":$named}"""))
    val cp = opt(r.nextBoolean(), "\"vpn\":" + vpn(r)) ++
      opt(r.nextBoolean(), "\"segments\":" + segments(s"""{"vpn":${vpn(r)}}"""))
    def b = Seq("true", "false", "null")(r.nextInt(3))
    val fw = Seq(s""""firewall_enabled":$b""", s""""stateful_firewall_enabled":$b""",
      s""""inbound":${if (r.nextBoolean()) named else "null"}""",
      "\"segments\":" + segments(s"""{"outbound":$named}"""))
    val modules = Seq("QOS" -> qos, "controlPlane" -> cp, "firewall" -> fw)
      .filter(_ => r.nextInt(4) > 0)
      .map { case (m, fields) => s"""{"name":"$m","data":${fields.mkString("{", ",", "}")}}""" }
    val version = Seq(s""""schemaVersion":"2.0.0",""", s""""schemaVersion":"3.4.0",""",
      s""""schemaVersion":null,""", "")(r.nextInt(4))
    s"""{"name":${js(name)},$version"modules":${r.shuffle(modules).mkString("[", ",", "]")}}"""
  }

  /** 600 seeded stacks (edge level first, profile second, both
    * versions, null and absent versions) plus the shapes the random
    * levels cannot produce: a null stack, an empty one, a one-level
    * stack, no "Edge Specific Profile" level, that level second, and
    * levels with null modules.
    */
  private def gridDocs: DataFrame = {
    import spark.implicits._
    val r = new scala.util.Random(20240611L)
    val random = (0 until 600).map { i =>
      s"""{"edgeId":"g-$i","stack":[${gridLevel(r, "Edge Specific Profile")},""" +
        s"""${gridLevel(r, "Profile " + i)}]}"""
    }
    val shapes = Seq(
      """{"edgeId":"null-stack","stack":null}""",
      """{"edgeId":"no-stack"}""",
      """{"edgeId":"empty-stack","stack":[]}""",
      """{"edgeId":"null-level","stack":[null,null]}""",
      """{"edgeId":"null-modules","stack":[{"name":"Edge Specific Profile","modules":null},{"name":"P","schemaVersion":"2.0.0"}]}""") ++
      (0 until 30).flatMap { i =>
        val edge = gridLevel(r, "Edge Specific Profile")
        val prof = gridLevel(r, "Profile")
        Seq(s"""{"edgeId":"one-level-$i","stack":[$edge]}""",
          s"""{"edgeId":"no-edge-specific-$i","stack":[$prof,${gridLevel(r, "Other")}]}""",
          s"""{"edgeId":"edge-specific-second-$i","stack":[$prof,$edge]}""")
      }
    spark.read.schema(Schemas.configStackDoc).json((random ++ shapes).toDS())
  }

  private def assertSameRows(a: DataFrame, b: DataFrame): Unit = {
    assert(a.exceptAll(b).count() === 0)
    assert(b.exceptAll(a).count() === 0)
  }

  test("config-stack builders equal the two-branch reference over a variant grid") {
    val grid = gridDocs.cache()
    try {
      val stack = col("stack")
      def flat(c: Column) =
        grid.select(col("edgeId"), c.as("f")).select("edgeId", "f.*")
      val got = flat(ConfigStack.featureSetFromStack(stack))
      assertSameRows(got, flat(Reference.featureSetFromStack(stack)))
      // the grid reaches the fallbacks and both answers, not one corner
      assert(got.drop("edgeId").distinct().count() >= 20)
      assert(got.select("feature_set").distinct().count() === 2)
      // every generated doc parsed: a malformed one reads as all nulls
      assert(grid.filter(col("edgeId").isNull).count() === 0)
      assert(grid.count() === 695)

      for (segmented <- Seq(true, false)) {
        for (levelIdx <- Seq(0, 1))
          assertSameRows(
            flat(ConfigStack.pbFlags(stack, levelIdx, lit(segmented))),
            flat(Reference.pbFlags(stack, levelIdx, segmented)))
        assertSameRows(
          flat(ConfigStack.pbFlagsWithFallback(stack, lit(segmented))),
          flat(Reference.pbFlagsWithFallback(stack, segmented)))
        assertSameRows(
          flat(ConfigStack.b2bFlags(stack, lit(segmented))),
          flat(Reference.b2bFlags(stack, segmented)))
      }
    } finally grid.unpersist()
  }
}
